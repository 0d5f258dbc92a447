package graft

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR.
 *
 * Output contract (the driver keeps only the LAST ~2000 chars of stdout, so
 * ordering matters — round 6's recorded bench lost q01–q19 and the suite
 * total to the tail capture):
 *
 *   1. a full detail JSON line (every query's median + min, per-rep times for
 *      the mutation queries) — printed first AND written to
 *      `BENCH_DETAIL.json` in the working directory so it survives intact;
 *   2. a compact headline JSON line printed LAST (< ~1800 chars): suite
 *      total, point-lookup class, mutation class with per-rep times,
 *      worst-3 regressions vs the previous recorded round, and the
 *      scaling exponents. This line alone is a parseable summary.
 *
 * Each query is materialized with a noop-format write — the full declared
 * plan executes (projections, expressions, joins) without the Catalyst
 * pruning a bare `count()` would trigger, and without writing bytes.
 */
object Bench {
  /** Queries that do real table mutations (parquet writes / commits) per
    * rep — a disturbed rep (box contention during a write) shows up as one
    * outlier in the per-rep list rather than poisoning a single number. */
  private val mutationClass = Set(
    "q18_scd2_merge", "q41_hudi_upsert", "q55_change_feed", "q64_mor_delete",
    "q70_replace_where", "q77_branch_wap", "q78_stream_roundtrip",
    "q81_stream_window", "q85_dv_delete", "q86_dv_update",
    "q115_apply_changes")

  /** Point-lookup class graded against BASELINE.md's Athena lookups. */
  private val lookupClass = Seq(
    "q02_point_lookup", "q19_snapshot_point_lookup", "q43_zorder_scan",
    "q69_bloom_lookup")

  /** Best-effort per-query minimums from a prior round's recorded bench.
    * The prior artifact may be a truncated tail wrapper, so parse leniently:
    * scan for `"qNN_name":N.NNN` pairs and keep the minimum seen per key
    * (keys appear in both the median and min maps; min-of-seen ≈ min map). */
  private def prevMins(path: String): Map[String, Double] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val text =
        try scala.io.Source.fromFile(f, "UTF-8").mkString
        catch { case scala.util.control.NonFatal(_) => return Map.empty }
      // Quotes may be backslash-escaped: the driver's BENCH_r*.json wraps the
      // bench line inside a JSON "tail" string field.
      val pair = """\\?"(q\d{2,3}_[a-z0-9_]+)\\?"\s*:\s*(-?\d+\.\d+)""".r
      pair.findAllMatchIn(text)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .toSeq.filter(_._2 >= 0)
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
    }
  }

  private def defaultPrevBench(): Option[String] = {
    // Prefer the newest ROUND-STAMPED detail record: the driver's
    // BENCH_r<N>.json captures only a ~2000-char tail of the headline,
    // which truncates the per-query section (r14 found its worst3
    // comparison empty against BENCH_r13.json for exactly this reason).
    // BENCH_DETAIL_r<N>*.json carries the full per-query min map.
    val detail = """BENCH_DETAIL_r(\d+)(\w*)\.json""".r
    val head = """BENCH_r(\d+)\.json""".r
    val all = Option(new java.io.File(".").listFiles()).toSeq.flatten
    // within a round, the UNTAGGED record is the round-official one;
    // tagged variants (_dev, _quiet, …) are development-box states that
    // must not silently become the cross-round comparison base
    all.flatMap { f =>
      detail.findFirstMatchIn(f.getName).filter(_.matched == f.getName)
        .map(m => (m.group(1).toInt, m.group(2).isEmpty, f.getPath))
    }.sortBy { case (round, untagged, _) => (-round, if (untagged) 0 else 1) }
      .headOption.map(_._3)
      .orElse(all.flatMap(f =>
          head.findFirstMatchIn(f.getName).filter(_.matched == f.getName)
            .map(m => m.group(1).toInt -> f.getPath))
        .sortBy(-_._1).headOption.map(_._2))
  }

  private def jnum(d: Double): String = f"$d%.3f"

  /** Fixed-work box-speed calibration, zero graft code on either path —
    * recorded so a uniform suite-level shift vs a prior round separates
    * into "box got slower" vs "code got slower" BY CONSTRUCTION (the r10
    * control for this was re-running the r9 tag: its own suite came back
    * 1.18× over its own artifact, i.e. pure box drift). `cpu` is a
    * single-thread scalar loop (core speed / steal); `spark` is a fixed
    * 32-partition codegen'd aggregation over `range` (scheduler + the
    * parallel compute path). Min of 2 reps each; measured at suite start
    * and again after the scaling block, since box conditions can change
    * mid-run. */
  private def calibrate(spark: SparkSession): (Double, Double) = {
    def cpuOnce(): Double = {
      var acc = 0L; var i = 0L
      val t0 = System.nanoTime()
      while (i < 1500000000L) { acc ^= i * 0x9E3779B97F4A7C15L; i += 1 }
      if (acc == 42L) System.err.print("") // keep the loop live
      (System.nanoTime() - t0) / 1e9
    }
    def sparkOnce(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: full-range hash values overflow a long sum
      // under ANSI mode (Spark 4 default)
      spark.range(0, 400000000L, 1, 32).selectExpr("bit_xor(xxhash64(id))").head()
      (System.nanoTime() - t0) / 1e9
    }
    sparkOnce() // warm the calibration plan's codegen once
    (math.min(cpuOnce(), cpuOnce()), math.min(sparkOnce(), sparkOnce()))
  }

  /** ~0.1 s fixed-work single-thread CPU probe (min of 2) — the
    * box-speed price tag recorded next to individual measurements. The
    * r11 artifact recorded q71's 100x exponent at 1.22 while the same
    * code measured 0.6-0.7 on a quiet box; the run-level calib pair
    * showed the box moving 1.6x ACROSS the run. Pricing the box AT each
    * measurement makes drift readable out of the artifact itself. */
  private def lightCalib(): Double = {
    def once(): Double = {
      var acc = 0L; var i = 0L
      val t0 = System.nanoTime()
      while (i < 150000000L) { acc ^= i * 0x9E3779B97F4A7C15L; i += 1 }
      if (acc == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local[32] is the contract for recorded rounds (32-core box); keep the
    // env override for laptops and for apples-to-apples reruns of old rounds.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (calibCpu0, calibSpark0) = calibrate(spark)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // Untimed warm pass: JIT + codegen caches + the one-time snapshot-table
    // build behind q19, so the timed pass measures steady-state latency
    // (the baseline's point lookups also hit pre-written tables).
    // Lifecycle queries (session-cached index/fixture builds inside the
    // declared body): capture per-phase walls during the warm rep (which
    // pays the one-time builds) and during the first timed rep (the
    // steady serve) — BENCH_DETAIL's `lifecycle_phases` makes the suite
    // total's variance attributable to a phase instead of a mystery
    // (q124 recorded 1.89→4.50 s across identical code, r10–r12).
    val lifecycleQs = Set("q115_apply_changes", "q117_serve_indexed",
      "q124_index_maintenance", "q126_span_serve_indexed", "q128_spj_hybrid",
      // the IVF lifecycles + the concurrent-families recall harness:
      // q120 was r13's #2 suite row (7.04 s driver / 0.9 s dev) with
      // zero phase attribution — now its three-table PQ build, append,
      // and probe phases land in BENCH_DETAIL like q124's
      "q118_ivf_indexed", "q119_ivf_sq8_indexed", "q120_ivf_pq_indexed",
      "q121_ivf_stream", "q49_approx_recall")
    val warmPhases = scala.collection.mutable.LinkedHashMap[String, Seq[(String, Double)]]()
    val steadyPhases = scala.collection.mutable.LinkedHashMap[String, Seq[(String, Double)]]()
    ordered.foreach { case (name, fn) =>
      try {
        def run(): Unit =
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        if (lifecycleQs(name)) {
          val (_, ph) = ext.PhaseLog.capture(run())
          warmPhases(name) = ph
        } else run()
      }
      catch { case e: Throwable => System.err.println(s"[bench][warm] $name: ${e.getMessage}") }
    }
    // Median/min of 3 timed runs per query, taken as three FULL PASSES
    // over the query list — NOT 3 back-to-back reps per query. This box
    // is shared and bursts of contention last seconds-to-minutes:
    // back-to-back reps put all 3 of a query's timings inside one burst
    // (the r13 artifact recorded q128 min 1.32 / med 9.18 within a
    // single query's reps — a 7x spread no plan change can produce),
    // leaving the suite rows unable to self-adjudicate box-vs-code.
    // Interleaved passes land a burst on ONE pass of every query it
    // overlaps, so min-of-passes rejects it per query, and the per-pass
    // [[lightCalib]] probes recorded below price the box at each pass —
    // the same interleave-plus-calibrate design the scaling and
    // index-maintenance blocks already use. Total work is unchanged
    // (fixtures are session-cached after the warm pass). The regression
    // gate reads SUM-OF-MINS (`total_min`), the drift-resistant
    // statistic; sum-of-meds stays recorded for continuity.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val passCalibs = scala.collection.mutable.Buffer[Double]()
    val timesByQ = scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.Buffer[Double]]()
    ordered.foreach { case (name, _) => timesByQ(name) = scala.collection.mutable.Buffer[Double]() }
    for (pass <- 1 to reps) {
      passCalibs += lightCalib()
      ordered.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          def run(): Unit =
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          if (pass == 1 && lifecycleQs(name)) {
            val (_, ph) = ext.PhaseLog.capture(run())
            steadyPhases(name) = ph
          } else run()
          timesByQ(name) += (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed (pass $pass): ${e.getMessage}")
        }
      }
    }
    passCalibs += lightCalib() // trailing bracket: drift across the last pass
    val results: Seq[(String, Seq[Double])] = ordered.map { case (name, _) =>
      name -> timesByQ(name).toSeq
    }
    def phasesJson(m: scala.collection.Map[String, Seq[(String, Double)]]): String =
      m.map { case (q, ph) =>
        "\"" + q + "\":{" + ph.zipWithIndex.map { case ((k, v), i) =>
          s""""${k}_$i":${jnum(v)}""" }.mkString(",") + "}"
      }.mkString("{", ",", "}")
    def med(ts: Seq[Double]): Double =
      if (ts.isEmpty) -1.0 else ts.sorted.apply(ts.size / 2)
    def mn(ts: Seq[Double]): Double = if (ts.isEmpty) -1.0 else ts.min
    val medians = results.map { case (k, ts) => k -> med(ts) }
    val minima  = results.map { case (k, ts) => k -> mn(ts) }.toMap
    val qs   = medians.map { case (k, v) => "\"" + k + "\":" + jnum(v) }.mkString("{", ",", "}")
    val mins = results.map { case (k, ts) => "\"" + k + "\":" + jnum(mn(ts)) }.mkString("{", ",", "}")
    val perRep = results.collect { case (k, ts) if mutationClass(k) =>
      "\"" + k + "\":[" + ts.map(jnum).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = medians.map(_._2).filter(_ >= 0).sum
    val totalMin = minima.values.filter(_ >= 0).sum
    // ---------------- scale-stress block (SURVEY §6) ----------------
    // Three corpus points: P0 = sf0.1, P1 = a synthesized 10x corpus,
    // P2 = a synthesized 100x corpus (round-10 stress; both from
    // [[graft.tools.ScaleCorpus]], generated idempotently). Each row
    // runs at the subset of points its shape needs; adjacent pairs
    // yield the "scaling_10x" (P0->P1) and "scaling_100x" (P1->P2)
    // exponent blocks. Exponents near 1 = linear work; approaching 2
    // flags a quadratic pair generator; wall-clock exponents BELOW the
    // work exponent are expected where fixed job overhead dominates.
    //
    // PROVENANCE (the r9 verdict's rule): every row records the
    // exponent from per-point MINIMA **and** from per-point MEDIANS —
    // min-only exponents at 5 reps still swung run-to-run, and the
    // survey may quote only what this artifact records. Headline rows
    // are "name":[exp_min, exp_med]; full lo/hi/reps detail lands in
    // BENCH_DETAIL.json.
    import org.apache.spark.sql.functions.{col, concat, lit, sum => ssum, size => ssize}
    // The scale block runs in a FRESH session: after 116 queries × 4
    // runs the suite session carries residue (persisted snapshot-table
    // state, streaming checkpoints, broadcast backlog, old-gen
    // pressure) that measured the SAME 100× rows ~4× slower in-session
    // than standalone (r10: q48 218 s aged vs 58 s fresh, identical
    // code) — exponents must price the operator, not 25 minutes of
    // suite history. JIT/codegen caches are JVM-level and survive; the
    // scaling rows read only parquet corpora, never the suite's warmed
    // tables.
    spark.stop()
    val sparkS = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    sparkS.sparkContext.setLogLevel("WARN")
    // the fixture caches hold SnapshotTable handles bound to the STOPPED
    // suite session — scale-block rows must build theirs under the live one
    SparkEntry.resetCaches()
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    case class Meas(min: Double, med: Double)
    // 5-rep floor at P0/P1 (sub-second minima divide into the exponent,
    // amplifying noise); P2 rows run seconds-scale so fewer reps suffice,
    // but 2 is too few for the MEDIAN side of the exponent pair —
    // median-of-2 is the MAX, so one disturbed rep published exp_med 1.06
    // against exp_min 0.71 on identical code. 3 reps make the median a
    // true middle value.
    val scalingReps = math.max(
      sys.env.getOrElse("SPARK_GRAFT_SCALING_REPS", reps.toString).toInt, 5)
    val hiReps = sys.env.getOrElse("SPARK_GRAFT_SCALING_REPS_HI", "3").toInt
    def measure(probe: () => Unit, n: Int, warm: Boolean): Meas = {
      if (warm) probe()
      val ts = (1 to n).map { _ =>
        val t0 = System.nanoTime(); probe(); (System.nanoTime() - t0) / 1e9
      }
      Meas(ts.min, ts.sorted.apply(ts.size / 2))
    }
    // Structural leak guard (the r10 q48 probe made structural): after a
    // row's probe reps + cleanup, any RDD persisted DURING the row that is
    // still registered is recorded per row and force-released — several
    // operators hand back small localCheckpoint'ed frames the caller owns
    // (normally reclaimed by GC + ContextCleaner at an arbitrary later
    // point); making the release deterministic keeps one row's residue out
    // of the next row's measurement, and the recorded map keeps the claim
    // "every row releases what it pins" measured, not argued. Ids are
    // diffed, never counted (the ExtSpec flake rule: the async cleaner can
    // reclaim an unrelated block mid-row).
    val rddRetained = scala.collection.mutable.LinkedHashMap[String, Int]()
    def rddGuard[T](tag: String)(body: => T): T = {
      val before = sparkS.sparkContext.getPersistentRDDs.keySet
      val r = body
      val leaked = sparkS.sparkContext.getPersistentRDDs
        .filterNot(kv => before.contains(kv._1))
      if (leaked.nonEmpty) {
        rddRetained(tag) = leaked.size
        leaked.values.foreach(_.unpersist(blocking = false))
        System.err.println(
          s"[bench][rdd-guard] $tag retained ${leaked.size} RDD(s) after cleanup — force-released")
      }
      r
    }
    val sc = graft.tools.ScaleCorpus
    val p1Dir = sys.env.get("SPARK_GRAFT_SCALING_HI")
      .orElse(if (sfDir.contains("sf0.1") && sc.ensure(sparkS)) Some(sc.DefaultDir) else None)
      .filter(d => new java.io.File(d).isDirectory)
    val p2Dir = sys.env.get("SPARK_GRAFT_SCALING_100X").filter(_ != "0")
      .orElse {
        if (sys.env.get("SPARK_GRAFT_SCALING_100X").contains("0")) None
        else if (p1Dir.isDefined &&
          sc.ensure(sparkS, sc.Dir100x, sc.Docs100x, sc.Vecs100x)) Some(sc.Dir100x)
        else None
      }
      .filter(d => new java.io.File(d).isDirectory)
    // points this row runs at: bitmask over (P0, P1, P2)
    val P01 = Seq(0, 1); val P012 = Seq(0, 1, 2); val P12 = Seq(1, 2)
    val pointDirs: Seq[Option[String]] = Seq(Some(sfDir), p1Dir, p2Dir)
    def embAt(dir: String) = sparkS.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    def docsAt(dir: String) = sparkS.read.parquet(s"$dir/documents.parquet")
    def nlistFor(df: org.apache.spark.sql.DataFrame): Int =
      math.max(16, math.sqrt(df.count().toDouble).toInt)
    def declaredRow(name: String): String => (() => Unit, () => Unit) = { dir =>
      val fn = SparkEntry.queries(name)
      (() => noop(fn(sparkS, dir)), () => ())
    }
    // (name, points, warm-before-timing, per-row P2 rep override)
    case class SRow(name: String, pts: Seq[Int],
        mk: String => (() => Unit, () => Unit), warm: Boolean = true)
    val rows = Seq(
      SRow("q21_jaccard_neardup", P01, declaredRow("q21_jaccard_neardup")),
      SRow("q62_dup_ngram_frac", P01, declaredRow("q62_dup_ngram_frac")),
      SRow("q90_bigram_logprob", P01, declaredRow("q90_bigram_logprob")),
      SRow("q102_embedding_pairs_auto", P01, declaredRow("q102_embedding_pairs_auto")),
      // auto-sized pair mining and span removal are the flagship
      // pair-generation shapes — they take the full 100x stress
      SRow("q48_embedding_pairs", P012, declaredRow("q48_embedding_pairs")),
      SRow("q71_span_removal", P012, declaredRow("q71_span_removal")),
      // ANN probe against an IN-MEMORY index: the index is built UNTIMED
      // per corpus with nlist ∝ √N (FAISS sizing) and ONLY the probe is
      // timed — but each probe call still SCANS the whole persisted
      // `assigned` frame to select the probed lists, so this row is
      // LINEAR in corpus size BY CONSTRUCTION (recorded exp ~0.9-1.4);
      // only candidate scoring inside the probed lists is √N. It is the
      // lower bound the file-pruned `ivf_probe_indexed` row (q118's
      // path, recorded flat) exists to beat — that row carries the
      // serving claim, this one names the naive alternative.
      SRow("ivf_probe_inmem", P012, { dir =>
        val emb = embAt(dir)
        val idx = ext.Similarity.ivfBuild(emb, "vec_id", "embedding",
          nlist = nlistFor(emb))
        idx.assigned.persist(); idx.assigned.count()
        val probes = emb.filter(col("vec_id") < 100)
        (() => noop(ext.Similarity.ivfProbe(idx, probes, "vec_id", "embedding",
          k = 5, nProbe = 4)),
         () => { idx.assigned.unpersist(); () })
      }),
      SRow("ivf_probe_pq_refined", P012, { dir =>
        val emb = embAt(dir)
        val idx = ext.Similarity.ivfBuildPq(emb, "vec_id", "embedding",
          nlist = nlistFor(emb), m = 8, ksub = 16)
        idx.assigned.persist(); idx.assigned.count()
        val probes = emb.filter(col("vec_id") < 100)
        (() => noop(ext.Similarity.ivfProbePqRefined(idx, emb, probes,
          "vec_id", "embedding", k = 5, nProbe = 4, refine = 50)),
         () => { idx.assigned.unpersist(); () })
      }),
      // the index BUILD cost curve (the one linear pass ANN serving
      // amortizes): timed build + assignment materialization, expected
      // ~linear in N by design — recorded so the claim is measured,
      // not argued
      SRow("ivf_build", P12, { dir =>
        val emb = embAt(dir)
        val nl = nlistFor(emb)
        (() => {
          val idx = ext.Similarity.ivfBuild(emb, "vec_id", "embedding", nlist = nl)
          idx.assigned.count(); ()
        }, () => ())
      }, warm = false),
      // the file-pruned TABLE serve (q118's path): index persisted as
      // fingerprint-pinned snapshot tables UNTIMED, probes key-prune the
      // assigned table's manifest to the probed lists' files — the same
      // √N candidate volume as ivf_probe but read from COLD storage
      // through the prune, no in-memory assigned frame
      SRow("ivf_probe_indexed", P12, { dir =>
        val emb = embAt(dir)
        val tmp = SparkEntry.trackedTempDir("graft_bench_ivfidx")
        val t = ext.Similarity.buildIvfIndexTables(sparkS,
          s"$tmp/cent", s"$tmp/asg", emb, "vec_id", "embedding",
          nlist = nlistFor(emb), filesPerTable = 64)
        val probes = emb.filter(col("vec_id") < 100)
        (() => noop(ext.Similarity.ivfProbeIndexed(t, probes,
          "vec_id", "embedding", k = 5, nProbe = 4)),
         () => ())
      }),
      // tokenizer TRAINING cost curve (q100's operator): per-round work
      // rides the word-TYPE table — the Sennrich collapse keeps it flat
      SRow("bpe_train16", P012, { dir =>
        (() => { ext.BpeTrain.train(docsAt(dir), "text", numMerges = 16); () },
         () => ())
      }),
      // LSH-bucketed semantic decontamination (q98's large-benchmark
      // regime, broadcast cutover forced off; benchmark grows WITH the
      // corpus — an all-pairs kernel would be quadratic here)
      SRow("semantic_decontam_bucketed", P012, { dir =>
        val emb = embAt(dir)
        val bench = emb.filter(col("vec_id") % 10 === 0)
          .select(col("embedding").as("bvec"))
        (() => noop(ext.Decontaminate.semanticContaminatedIdsAuto(
          emb, "vec_id", "embedding", bench, "bvec", minCos = 0.95,
          broadcastMaxBenchRows = 0)),
         () => ())
      }),
      // k-bounded KLL quantile sketch, ESTIMATOR regime (k = 256 far
      // under per-language row counts at every point): map-side
      // partial/final agg — cost tracks the scan, state stays k-bounded
      SRow("quantile_sketch_profile", P012, { dir =>
        val docs = docsAt(dir)
        (() => noop(docs.groupBy("lang").agg(ext.functions.quantileSketchMulti(
          col("n_chars").cast("double"), Seq(0.25, 0.5, 0.75, 0.99), 256))),
         () => ())
      }),
      // incremental dedup SERVE steady state (q66's shape): corpus
      // signature index persisted UNTIMED, a fixed 500-doc batch mined
      // against it — serving cost vs index size is what scales
      SRow("dedup_serve", P12, { dir =>
        val corpus = docsAt(dir)
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        val index = ext.Dedup.minhashSignatures(corpus, "doc_id", "text")
        index.persist(); index.count()
        val batch = sc.documents(sparkS, 500)
          .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"))
          .localCheckpoint()
        (() => noop(ext.Dedup.dedupIncremental(index, batch, "doc_id", "text")),
         () => { index.unpersist(); () })
      }),
      // the span family's serving pair (the dedup_serve[_indexed] shape
      // on the gram index): flat = the whole stored gram set streams
      // through the membership join per batch; indexed = the batch's
      // gram hashes key-probe the clustered+bloomed table and only
      // possibly-matching files are read — the q126 serving claim at
      // 10x->100x index size
      SRow("span_serve", P12, { dir =>
        val corpus = docsAt(dir)
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        val grams = ext.TextAnalysis.spanGramIndex(corpus, "doc_id", "text", 10)
        grams.persist(); grams.count()
        val batch = sc.documents(sparkS, 500)
          .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"))
          .localCheckpoint()
        (() => noop(ext.TextAnalysis.removeDuplicatedSpansIncremental(
           batch, grams, "doc_id", "text", 10)),
         () => { grams.unpersist(); () })
      }),
      SRow("span_serve_indexed", P12, { dir =>
        val corpus = docsAt(dir)
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        val tmp = SparkEntry.trackedTempDir("graft_bench_sgidx")
        val t = ext.TextAnalysis.buildSpanGramIndexTable(sparkS,
          tmp.toString + "/grams", corpus, "doc_id", "text", n = 10,
          filesPerTable = 64)
        val batch = sc.documents(sparkS, 500)
          .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"))
          .localCheckpoint()
        (() => { val r = ext.TextAnalysis
             .removeDuplicatedSpansIncrementalIndexed(t, batch, "doc_id", "text")
           noop(r); ext.Dedup.release(r) },
         () => ())
      }),
      // ALL-NOVEL indexed span serve (the production steady state: a
      // batch sharing no grams with the corpus) — synthetic id-derived
      // tokens reach no stored gram, so blooms reject every index file
      // and the serve cost is the batch's own gram pass. The heavy-dup
      // row above is the other face: a batch whose ~45k probe grams are
      // ALL in the index spreads over every file's hash range, pruning
      // degrades to a full read (exactly correct, honestly recorded),
      // and flat-vs-indexed converge.
      SRow("span_serve_indexed_novel", P12, { dir =>
        val corpus = docsAt(dir)
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        val tmp = SparkEntry.trackedTempDir("graft_bench_sgnov")
        val t = ext.TextAnalysis.buildSpanGramIndexTable(sparkS,
          tmp.toString + "/grams", corpus, "doc_id", "text", n = 10,
          filesPerTable = 64)
        val batch = sc.documents(sparkS, 500)
          .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
            org.apache.spark.sql.functions.format_string(
              "sva%d svb%d svc%d svd%d sve%d svf%d svg%d svh%d svi%d svj%d svk%d",
              col("doc_id"), col("doc_id"), col("doc_id"), col("doc_id"),
              col("doc_id"), col("doc_id"), col("doc_id"), col("doc_id"),
              col("doc_id"), col("doc_id"), col("doc_id")).as("text"))
          .localCheckpoint()
        (() => { val r = ext.TextAnalysis
             .removeDuplicatedSpansIncrementalIndexed(t, batch, "doc_id", "text")
           noop(r); ext.Dedup.release(r) },
         () => ())
      }),
      // the INDEXED serve against persisted band/sig snapshot tables
      // (key-probed manifests: range stats + per-file blooms) — per-batch
      // cost rides the batch's MATCHES, so the exponent should sit near
      // zero where the flat row above pays the full index scan per call
      SRow("dedup_serve_indexed", P12, { dir =>
        val corpus = docsAt(dir)
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        val tmp = SparkEntry.trackedTempDir("graft_bench_idx")
        val (bandT, sigT) = ext.Dedup.buildMinhashIndexTables(sparkS,
          s"$tmp/bands", s"$tmp/sigs", corpus, "doc_id", "text",
          filesPerTable = 64)
        val batch = sc.documents(sparkS, 500)
          .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"))
          .localCheckpoint()
        (() => noop(ext.Dedup.dedupIncrementalFromPairs(
           ext.Dedup.minhashPairsIncrementalIndexed(bandT, sigT, batch,
             "doc_id", "text"),
           batch, "doc_id")),
         () => ())
      }),
      // the ALL-NOVEL indexed serve (the production steady state: a batch
      // with no corpus collisions) — synthetic id-derived tokens cannot
      // reach any corpus band, so the probe key-set prunes to ZERO index
      // files and the serve cost is the batch's own signature pass;
      // should sit flat regardless of index size
      SRow("dedup_serve_indexed_novel", P12, { dir =>
        val corpus = docsAt(dir)
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        val tmp = SparkEntry.trackedTempDir("graft_bench_idxn")
        val (bandT, sigT) = ext.Dedup.buildMinhashIndexTables(sparkS,
          s"$tmp/bands", s"$tmp/sigs", corpus, "doc_id", "text",
          filesPerTable = 64)
        val batch = sc.documents(sparkS, 500)
          .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
            org.apache.spark.sql.functions.format_string(
              "nvq%d nvr%d nvs%d nvt%d nvu%d",
              col("doc_id"), col("doc_id"), col("doc_id"), col("doc_id"),
              col("doc_id")).as("text"))
          .localCheckpoint()
        (() => noop(ext.Dedup.dedupIncrementalFromPairs(
           ext.Dedup.minhashPairsIncrementalIndexed(bandT, sigT, batch,
             "doc_id", "text"),
           batch, "doc_id")),
         () => ())
      }),
      // the REFERENCE's core op at scale: a FIXED 5k-key staged batch
      // keyed-upserted (precombine + CoW MERGE) into the corpus table,
      // range-clustered on the key at ~constant file size (untimed
      // setup). Discovery stats-prunes to the batch's key range, so the
      // rewrite touches the same few files at every corpus size — the
      // "upsert cost rides the BATCH, not the table" claim (exp ≈ 0)
      // measured instead of argued. Reps mutate the same table in place:
      // each rep re-rewrites the touched files, the steady state.
      SRow("upsert_fixed_batch", P12, { dir =>
        val docs = docsAt(dir)
          .select(col("doc_id").cast("long").as("id"), col("text"),
            lit(0L).as("ver"))
        val tmp = SparkEntry.trackedTempDir("graft_bench_upsert")
        val nFiles = math.max(16, (docs.count() / 8192).toInt)
        val t = graft.tables.SnapshotTable.create(sparkS, tmp.toString,
          docs.limit(1))
        t.setClusterSpec(Seq("id"))
        t.overwriteClustered(docs, Seq("id"), nFiles)
        val batch = sparkS.range(1000, 6000)
          .select(col("id"), lit("updated text").as("text"),
            lit(1L).as("ver"))
          .localCheckpoint()
        (() => { t.upsert(batch, Seq("id"), "ver"); () }, () => ())
      })
    )
    // row -> point -> measurement. Every exponent pair needs P1 (block10
    // is 0→1, block100 is 1→2), so without a P1 corpus the whole loop
    // would burn 5+ reps per row at P0 and report nothing — skip it.
    // per-measurement box-speed bracket: [[lightCalib]] taken immediately
    // before each (row, point) timing, so the exponent can be read
    // drift-corrected (exp_cal below) without re-running the round.
    val calibs = scala.collection.mutable.Map[(String, Int), Double]()
    // P0/P1 reps INTERLEAVE (lo,hi,lo,hi,…) within one block: the r12
    // artifact recorded q71's 10x raw exponent at 1.09 while its calib
    // bracket showed 0.67 — the lo and hi timings sat minutes apart and
    // the box moved between them. Alternating reps lands drift on both
    // points equally, so the RAW exponent is the drift-corrected one
    // (the same redesign as the index_maintenance block). P2 rows stay
    // sequential (seconds-scale work, interleaving against P1 would
    // double the block's corpus footprint for little gain) and keep
    // their own calib bracket.
    val meas: Map[(String, Int), Meas] = {
      val out = scala.collection.mutable.Map[(String, Int), Meas]()
      if (p1Dir.nonEmpty) {
        def measOf(ts: Seq[Double]): Meas =
          Meas(ts.min, ts.sorted.apply(ts.size / 2))
        for (row <- rows) {
          val both01 = row.pts.contains(0) && row.pts.contains(1)
          if (both01) {
            try rddGuard(s"${row.name}@p01") {
              val (probeLo, cleanLo) = row.mk(pointDirs(0).get)
              val (probeHi, cleanHi) = row.mk(pointDirs(1).get)
              val c = lightCalib()
              calibs((row.name, 0)) = c; calibs((row.name, 1)) = c
              try {
                if (row.warm) { probeLo(); probeHi() }
                val ts0 = scala.collection.mutable.Buffer[Double]()
                val ts1 = scala.collection.mutable.Buffer[Double]()
                for (_ <- 1 to scalingReps) {
                  var t0 = System.nanoTime(); probeLo()
                  ts0 += (System.nanoTime() - t0) / 1e9
                  t0 = System.nanoTime(); probeHi()
                  ts1 += (System.nanoTime() - t0) / 1e9
                }
                out((row.name, 0)) = measOf(ts0.toSeq)
                out((row.name, 1)) = measOf(ts1.toSeq)
              } finally { cleanLo(); cleanHi() }
            } catch { case e: Throwable =>
              System.err.println(s"[bench][scaling] ${row.name}@p01: ${e.getMessage}")
            }
          }
          for (p <- row.pts if !(both01 && p <= 1); dir <- pointDirs(p)) {
            try {
              val m = rddGuard(s"${row.name}@p$p") {
                val (probe, cleanup) = row.mk(dir)
                val n = if (p == 2) hiReps else scalingReps
                calibs((row.name, p)) = lightCalib()
                try measure(probe, n, row.warm) finally cleanup()
              }
              out((row.name, p)) = m
            } catch { case e: Throwable =>
              System.err.println(s"[bench][scaling] ${row.name}@p$p: ${e.getMessage}")
            }
          }
        }
      }
      out.toMap
    }
    // distributed connected components on DENSE-DUPLICATE corpora (the
    // 100 TB closure path): pairs mined UNTIMED (mining curves are the
    // rows above), then large-star/small-star timed with the driver
    // union-find disabled at BOTH points. At the hi point the mined
    // edge set exceeds the 2^20-edge dispatch threshold, so the
    // PRODUCTION hybrid would take this path on its own.
    val ccResult: Option[(Meas, Meas, Long, Long)] =
      if (p2Dir.isEmpty) None
      else try {
        def ccAt(dir: String, gen: => org.apache.spark.sql.DataFrame): (Meas, Long) = {
          graft.tools.ScaleCorpus.ensureDocs(sparkS, dir, gen)
          val docs = sparkS.read.parquet(s"$dir/documents.parquet")
          val pairs = ext.Dedup.minhashPairs(docs, "doc_id", "text")
            .select("id_a", "id_b").localCheckpoint()
          val edges = pairs.count()
          val m = measure(
            () => noop(ext.Dedup.connectedComponents(pairs, driverMaxEdges = 0)),
            hiReps, warm = false)
          ext.Dedup.release(pairs)
          (m, edges)
        }
        val (lo, eLo) = rddGuard("cc_distributed@lo")(
          ccAt(sc.DenseLoDir, sc.denseDocuments(sparkS, sc.DenseLoDocs)))
        val (hi, eHi) = rddGuard("cc_distributed@hi")(
          ccAt(sc.DenseHiDir, sc.denseDocuments(sparkS, sc.DenseHiDocs)))
        Some((lo, hi, eLo, eHi))
      } catch { case e: Throwable =>
        System.err.println(s"[bench][scaling] cc_distributed: ${e.getMessage}"); None
      }
    def expPair(lo: Meas, hi: Meas): (Double, Double) =
      (math.log10(hi.min / lo.min), math.log10(hi.med / lo.med))
    // each row carries its OWN rep counts (cc_distributed runs hiReps at
    // BOTH points) — the detail block must record what actually ran.
    // calLo/calHi are the per-point box brackets; 1.0/1.0 (no correction)
    // for rows measured outside the bracketed loop.
    def blockFor(loP: Int, hiP: Int, loN: Int, hiN: Int)
        : Seq[(String, Meas, Meas, Int, Int, Double, Double)] =
      rows.flatMap { r =>
        for { lo <- meas.get((r.name, loP)); hi <- meas.get((r.name, hiP)) }
          yield (r.name, lo, hi, loN, hiN,
            calibs.getOrElse((r.name, loP), 1.0),
            calibs.getOrElse((r.name, hiP), 1.0))
      }
    val block10 = blockFor(0, 1, scalingReps, scalingReps)
    val block100 = blockFor(1, 2, scalingReps, hiReps) ++
      ccResult.map { case (lo, hi, _, _) =>
        ("cc_distributed", lo, hi, hiReps, hiReps, 1.0, 1.0) }.toSeq
    // head: [exp_min, exp_med, exp_cal] — exp_cal is exp_min with the
    // box-speed bracket divided out (log10 of the calib ratio subtracted):
    // the drift-corrected slope a steady box would have recorded
    def headBlock(tag: String,
        b: Seq[(String, Meas, Meas, Int, Int, Double, Double)]): String =
      if (b.isEmpty) ""
      else b.map { case (n, lo, hi, _, _, cl, ch) =>
        val (e, em) = expPair(lo, hi)
        val ec = e - math.log10(ch / cl)
        "\"" + n + s"""\":[${f"$e%.2f"},${f"$em%.2f"},${f"$ec%.2f"}]"""
      }.mkString(s""","$tag":{""", ",", "}")
    def detailBlock(tag: String,
        b: Seq[(String, Meas, Meas, Int, Int, Double, Double)]): String =
      if (b.isEmpty) ""
      else b.map { case (n, lo, hi, loN, hiN, cl, ch) =>
        val (e, em) = expPair(lo, hi)
        val ec = e - math.log10(ch / cl)
        "\"" + n + s"""\":{"lo":${jnum(lo.min)},"lo_med":${jnum(lo.med)},"hi":${jnum(hi.min)},"hi_med":${jnum(hi.med)},"exp":${f"$e%.2f"},"exp_med":${f"$em%.2f"},"exp_cal":${f"$ec%.2f"},"calib_lo":${jnum(cl)},"calib_hi":${jnum(ch)},"reps_lo":$loN,"reps_hi":$hiN}"""
      }.mkString(s""","$tag":{""", ",", "}")
    // BPE at PRODUCTION vocabulary: train ~32k merges on the
    // rich-lexicon corpus (the default corpora's 27-word vocabulary
    // exhausts after a few hundred merges), then time ENCODE throughput
    // with the full table — the O(word-length · log-ish) per-token
    // claim measured at real vocab size. Training itself is reported
    // but untimed-for-exponent (one-off cost).
    val bpe32k: Option[(Int, Double, Double, Long, Long)] =
      if (p2Dir.isEmpty) None
      else try rddGuard("bpe32k") {
        sc.ensureDocs(sparkS, sc.RichDir, sc.richDocuments(sparkS, sc.RichDocs))
        val docs = sparkS.read.parquet(s"${sc.RichDir}/documents.parquet")
          .localCheckpoint()
        val nDocs = docs.count()
        val t0 = System.nanoTime()
        val merges = ext.BpeTrain.train(docs, "text", numMerges = 32768)
        val trainSec = (System.nanoTime() - t0) / 1e9
        var tokens = 0L
        val enc = () => {
          tokens = docs.select(ssum(ssize(
            ext.functions.bpeEncodeIds(col("text"), merges))).as("t"))
            .head().getLong(0)
        }
        val m = measure(enc, hiReps, warm = true)
        Some((merges.size, trainSec, m.min, tokens, nDocs))
      } catch { case e: Throwable =>
        System.err.println(s"[bench][bpe32k]: ${e.getMessage}"); None
      }
    val bpeHead = bpe32k.map { case (nm, _, encSec, tokens, _) =>
      s""","bpe32k":{"merges":$nm,"tok_per_sec":${(tokens / encSec).toLong}}"""
    }.getOrElse("")
    val bpeDetail = bpe32k.map { case (nm, trainSec, encSec, tokens, nDocs) =>
      s""","bpe32k":{"merges":$nm,"train_sec":${jnum(trainSec)},"encode_sec":${jnum(encSec)},"docs":$nDocs,"tokens":$tokens,"tok_per_sec":${(tokens / encSec).toLong},"corpus":"${sc.RichDir}"}"""
    }.getOrElse("")
    // -------- concurrent-writer steady state (the reference's multi-
    // writer DynamoDB-lock scenario, hudi/hudi_scd_script.py:41-48) --------
    // The OCC machinery (append auto-retry, maintenance rebase, row-
    // rewrite disjoint rebase) is race-SPEC'd; this row MEASURES it under
    // contention: four threads run keyed upserts over DISJOINT key ranges
    // of the 10x corpus table while a fifth compacts a fifth, untouched
    // range (OPTIMIZE ... WHERE beside ingest — the steady state of
    // scheduled maintenance). Recorded: commits/sec, successful rebases
    // (losing a slot CAS and re-landing with zero recompute — the
    // expected path), surfaced conflicts (expected ZERO for disjoint
    // ranges — the retry-cap liveness path can still surface a retry
    // under CAS storms, which the caller loop absorbs per the API
    // contract), and a serial-equivalence check: the concurrent table's
    // content hash must equal a sequential replay of the same batches —
    // disjoint keyed upserts commute, so any interleaving converges.
    // Per-commit phase attribution (r14 verdict #2): commits/s swung
    // 2.9× across rounds with nothing in the artifact to adjudicate it.
    // `PhaseLog.capture` records wall time per phase
    // (source_stage / discovery / index / write_job / harvest / cas)
    // across all writer threads
    // during the concurrent window; `busy` sums each thread's own
    // start→end wall and `recompute` the wall of surfaced-conflict
    // attempts whose work was thrown away (recompute time ALSO lands in
    // the phase sums — it is attribution of the same seconds, not an
    // extra phase). phase_coverage = phases/busy: the fraction of
    // writer-thread time the artifact can attribute — a future swing
    // reads directly as "cas grew 4×" / "write_job grew uniformly (box)"
    // instead of a plausibility argument.
    // calib_pair brackets the block (the house rule for every A-vs-B
    // block, applied to the one block whose number swung 4.3× across
    // three same-day records): a record's commits/s now carries the
    // box-speed price tag measured AT the block, not just at run ends.
    case class MwResult(sec: Double, commits: Long, rebases: Long,
      conflicts: Long, ok: Boolean, busySec: Double, recomputeSec: Double,
      phases: Seq[(String, Double)], calibPair: (Double, Double))
    val mw: Option[MwResult] =
      if (p1Dir.isEmpty) None
      else try rddGuard("multi_writer") {
        val mwCalib0 = lightCalib()
        import graft.tables.SnapshotTable
        val docs = docsAt(p1Dir.get)
          .select(col("doc_id").cast("long").as("id"), col("text"),
            lit(0L).as("ver"))
          .localCheckpoint()
        val n = docs.count()
        def mkTable(): SnapshotTable = {
          val tmp = SparkEntry.trackedTempDir("graft_bench_mw")
          val t = SnapshotTable.create(sparkS, tmp.toString, docs.limit(1))
          t.setClusterSpec(Seq("id"))
          t.overwriteClustered(docs, Seq("id"), 32)
          t
        }
        val writers = 4
        val batchesPer = 5
        val span = n / (writers + 1) // the fifth span is the compactor's
        val batches: Map[(Int, Int), org.apache.spark.sql.DataFrame] =
          (for { w <- 0 until writers; b <- 0 until batchesPer } yield {
            val lo = w * span + b * 500
            (w, b) -> sparkS.range(lo, lo + 500)
              .select(col("id"),
                concat(lit(s"w$w b$b text "), col("id")).as("text"),
                lit((b + 1).toLong).as("ver"))
              .localCheckpoint()
          }).toMap
        val t = mkTable()
        SnapshotTable.occStats.reset()
        val conflicts = new java.util.concurrent.atomic.AtomicLong
        val busyNanos = new java.util.concurrent.atomic.AtomicLong
        val recomputeNanos = new java.util.concurrent.atomic.AtomicLong
        val v0 = t.currentVersion()
        val t0 = System.nanoTime()
        // a surfaced ConcurrentCommitException is the API's retry
        // contract ("recompute against the fresh snapshot"), not a
        // failure — a production writer loops, so the bench writer does
        // too. `conflicts` counts the surfaced retries (the internal
        // zero-recompute rebases are counted separately via occStats);
        // a batch that cannot land within the bound would still fail
        // the serial-equivalence hash below, loudly.
        def withRetry(what: => Unit): Unit = {
          var attempts = 0
          var done = false
          while (!done && attempts < 20) {
            val a0 = System.nanoTime()
            try { what; done = true }
            catch { case _: SnapshotTable.ConcurrentCommitException =>
              recomputeNanos.addAndGet(System.nanoTime() - a0)
              conflicts.incrementAndGet(); attempts += 1 }
          }
        }
        def busyThread(name: String)(work: => Unit): Thread =
          new Thread(() => {
            val b0 = System.nanoTime()
            try work finally busyNanos.addAndGet(System.nanoTime() - b0)
          }, name)
        val threads = (0 until writers).map { w =>
          busyThread(s"mw-writer-$w")((0 until batchesPer).foreach { b =>
            withRetry { t.upsert(batches((w, b)), Seq("id"), "ver"); () }
          })
        } :+ busyThread("mw-compactor")((1 to 3).foreach { _ =>
          withRetry { t.compact(targetFileBytes = 1L << 30,
            smallFileBytes = 1L << 30,
            scope = Some(col("id") >= writers * span)); () }
        })
        val (_, timed) = ext.PhaseLog.capture {
          threads.foreach(_.start()); threads.foreach(_.join())
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val phases = timed.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
        val mwCalib1 = lightCalib() // closes the WINDOW, before the replay
        val commits = t.currentVersion() - v0
        val rebases = SnapshotTable.occStats.rebases.get()
        val seq = mkTable()
        for (w <- 0 until writers; b <- 0 until batchesPer)
          seq.upsert(batches((w, b)), Seq("id"), "ver")
        def hashOf(tt: SnapshotTable): (Long, Long) = {
          val r = tt.read()
            .selectExpr("bit_xor(xxhash64(id, text, ver))", "count(1)").head()
          (r.getLong(0), r.getLong(1))
        }
        val ok = hashOf(t) == hashOf(seq)
        graft.ext.Dedup.release(docs)
        batches.values.foreach(graft.ext.Dedup.release)
        Some(MwResult(sec, commits, rebases, conflicts.get(), ok,
          busyNanos.get() / 1e9, recomputeNanos.get() / 1e9, phases,
          (mwCalib0, mwCalib1)))
      } catch { case e: Throwable =>
        System.err.println(s"[bench][multi_writer]: ${e.getMessage}"); None
      }
    // -------- reference-scale anchor (r14 verdict #7): the reference's
    // own 999+1,100-row contact CSVs (`data/*.csv`) through the same
    // hudi-script SCD2 algorithm q18/q41 bench at 600k rows — the
    // cleanest SAME-SCALE read against BASELINE.md's anchors (merge: one
    // whole EMR job; lookup: Athena `id=103` 0.664–3.619 s → 2 rows).
    // Three reps, each on a fresh table (the merge mutates); lookup runs
    // against the just-merged table, cold per rep.
    val refScale: Option[(Seq[Double], Seq[Double], Long)] = try {
      val initCsv = "/root/reference/data/initial_contacts.csv"
      val updCsv = "/root/reference/data/update_contacts.csv"
      if (!new java.io.File(initCsv).isFile) None
      else rddGuard("reference_scale") {
        val merges = scala.collection.mutable.Buffer[Double]()
        val lookups = scala.collection.mutable.Buffer[Double]()
        var lookupRows = 0L
        for (_ <- 1 to 3) {
          val root = SparkEntry.trackedTempDir("graft_bench_ref")
            .toString + "/contact"
          val initial = graft.scd2.Scd2.readContactsCsv(sparkS, initCsv)
          val update = graft.scd2.Scd2.readContactsCsv(sparkS, updCsv)
          val t = graft.scd2.Scd2.initialLoad(sparkS, root, initial,
            java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
          val m0 = System.nanoTime()
          graft.scd2.Scd2.hudiStyleMerge(t, update,
            java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), withCounts = false)
          merges += (System.nanoTime() - m0) / 1e9
          val l0 = System.nanoTime()
          lookupRows = t.read().filter(col("id") === 103).collect().length.toLong
          lookups += (System.nanoTime() - l0) / 1e9
        }
        Some((merges.toSeq, lookups.toSeq, lookupRows))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench][reference_scale]: ${e.getMessage}"); None
    }
    // -------- index maintenance steady state (build → ingest appends →
    // recluster — the lifecycle behind q124, measured): a serve over an
    // append-bloated index vs the same index after compactMinhashIndex.
    // The appends are heavy-duplicate copies of corpus slices, the worst
    // case for the probe (every appended file's band keys ARE probe
    // targets). Two honest readings: serve deltas show what append bloat
    // costs a single probe TODAY (per-file blooms absorb most of it at
    // plan time — a design success the row records, not hides), and the
    // files triple records what compaction is really for at depth:
    // commit metadata and plan-time probe work are O(files), so the
    // floor restoration is what keeps a long-lived index's manifest from
    // growing without bound.
    // Redesigned r13 (the three-round "compacted serve regression" saga):
    // the states are now FOUR COEXISTING index pairs and the serve reps
    // are INTERLEAVED round-robin across them, so box drift lands on
    // every state equally and a layout effect must show as a consistent
    // per-state offset. The r12 sequential design measured each state's
    // 3 reps in its own time slice; its recorded "compacted 2.278 s vs
    // control 1.319 s" reproduced FLAT under this design (fresh/appended/
    // compacted/control mins 1.80–1.95 in the diagnostic run) with
    // byte-equivalent layouts (64 files probed, blooms at the 32 KiB
    // design point in both). Per-state diagnostics (probed files, bloom
    // bytes/file, dead files reclaimed by vacuum) are recorded in BOTH
    // JSON formats so the artifact carries its own evidence. Lifecycle
    // phase walls (build/append/compact/vacuum) are timed once each.
    case class ImState(name: String, files: Int, probed: Int, bloomB: Long,
        m: Meas)
    val im: Option[(Seq[ImState], Seq[(String, Double)], Int)] =
      if (p1Dir.isEmpty) None
      else try Some(rddGuard("index_maintenance") {
        val corpus = docsAt(p1Dir.get)
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
          .localCheckpoint()
        val tmp = SparkEntry.trackedTempDir("graft_bench_imaint")
        def phase[T](tag: String, acc: scala.collection.mutable.Buffer[(String, Double)])(
            body: => T): T = {
          val t0 = System.nanoTime(); val r = body
          acc += tag -> (System.nanoTime() - t0) / 1e9; r
        }
        val phases = scala.collection.mutable.Buffer[(String, Double)]()
        def build(sub: String) = ext.Dedup.buildMinhashIndexTables(sparkS,
          s"$tmp/$sub/bands", s"$tmp/$sub/sigs", corpus, "doc_id", "text",
          filesPerTable = 64)
        def appends(p: (graft.tables.SnapshotTable, graft.tables.SnapshotTable),
            timed: Boolean): Unit =
          (0 until 8).foreach { b =>
            val app = corpus.filter(col("doc_id") % 100 === b).limit(500)
              .select((col("doc_id") + lit((b + 1) * 10000000L)).as("doc_id"),
                col("text"))
            if (timed) phase(s"append$b", phases)(
              ext.Dedup.minhashIndexAppend(p._1, p._2, app, "doc_id", "text"))
            else ext.Dedup.minhashIndexAppend(p._1, p._2, app, "doc_id", "text")
          }
        val pA = phase("build", phases)(build("fresh"))
        val pB = build("app"); appends(pB, timed = true)
        val pC = build("comp"); appends(pC, timed = false)
        phase("compact", phases)(
          ext.Dedup.compactMinhashIndex(pC._1, pC._2, filesPerTable = 64))
        // vacuum the compacted pair: the thrice-rewritten tables carry
        // dead band/sig files + log slots until reclaimed — a long-lived
        // index accumulates them (VERDICT r12 #7)
        val reclaimed = phase("vacuum", phases)(
          pC._1.vacuum(retainVersions = 1, retainMillis = 0L) +
            pC._2.vacuum(retainVersions = 1, retainMillis = 0L))
        val pD = build("ctl")
        val states = Seq("fresh" -> pA, "appended" -> pB,
          "compacted" -> pC, "fresh_control" -> pD)
        // serve batch: 500 copies — probes that really read index files
        val batch = corpus.filter(col("doc_id") % 100 === 7).limit(500)
          .select((col("doc_id") + lit(2000000000L)).as("doc_id"), col("text"))
          .localCheckpoint()
        def serveOn(p: (graft.tables.SnapshotTable, graft.tables.SnapshotTable)): Unit =
          noop(ext.Dedup.dedupIncrementalFromPairs(
            ext.Dedup.minhashPairsIncrementalIndexed(p._1, p._2, batch,
              "doc_id", "text"), batch, "doc_id", releasePairs = true))
        // the serve's own probe keys, replayed against each manifest: how
        // many band files the state actually lets the probe skip (the
        // heavy-dup batch's keys are real corpus band hashes, uniformly
        // spread — so serve deltas across states are drift unless this
        // count moves), plus the per-file bloom footprint (saturation
        // would show as a smaller-than-design filter)
        val g = ext.Dedup.indexGeometryOf(pA._2)
        val bKeys = ext.Dedup.bandRows(
            ext.Dedup.minhashSignatures(batch, "doc_id", "text",
              g.shingleSize, g.numHashes, g.seed),
            g.bands, g.numHashes / g.bands)
          .select("bandhash").distinct().collect().map(_.get(0)).toSeq
        states.foreach { case (_, p) => serveOn(p) } // warm each once
        val reps = 5
        val times = scala.collection.mutable.Map[String, Vector[Double]]()
          .withDefaultValue(Vector())
        for (_ <- 1 to reps; (n, p) <- states) {
          val t0 = System.nanoTime(); serveOn(p)
          times(n) = times(n) :+ (System.nanoTime() - t0) / 1e9
        }
        val out = states.map { case (n, (bt, st)) =>
          val bm = bt.manifestEntries()
          val bloomB = bm.flatMap(_.decodedBlooms.values.map(_._3.length * 8L)).sum /
            math.max(1, bm.size)
          val ts = times(n).sorted
          ImState(n, bm.size + st.manifestEntries().size,
            bt.keyProbedManifest("bandhash", bKeys).size, bloomB,
            Meas(ts.head, ts(ts.size / 2)))
        }
        ext.Dedup.release(corpus); ext.Dedup.release(batch)
        (out, phases.toSeq, reclaimed)
      }) catch { case e: Throwable =>
        System.err.println(s"[bench][index_maintenance]: ${e.getMessage}"); None
      }
    def imJson(detail: Boolean): String = im.map { case (sts, phases, reclaimed) =>
      val serves = sts.map(s =>
        s""""serve_${s.name}":[${jnum(s.m.min)},${jnum(s.m.med)}]""").mkString(",")
      val filesJ = s""""files":[${sts.map(_.files).mkString(",")}]"""
      val probedJ = s""""band_files_probed":[${sts.map(_.probed).mkString(",")}]"""
      val bloomJ = s""""bloom_bytes_per_band_file":[${sts.map(_.bloomB).mkString(",")}]"""
      val phaseJ =
        if (!detail) s""""build_s":${jnum(phases.find(_._1 == "build").map(_._2).getOrElse(-1.0))},"compact_s":${jnum(phases.find(_._1 == "compact").map(_._2).getOrElse(-1.0))},"vacuum_s":${jnum(phases.find(_._1 == "vacuum").map(_._2).getOrElse(-1.0))}"""
        else s""""phases":{${phases.map { case (k, v) => s""""$k":${jnum(v)}""" }.mkString(",")}}"""
      val extra = if (detail) ""","appends":8,"append_rows":500,"batch_rows":500""" else ""
      s""","index_maintenance":{$serves,$filesJ,$probedJ,$bloomJ,"files_reclaimed":$reclaimed,"interleaved_reps":5,$phaseJ$extra}"""
    }.getOrElse("")
    val imHead = imJson(detail = false)
    val imDetail = imJson(detail = true)
    // -------- storage-partitioned join vs shuffle join (q127's plan
    // class at the 10x point): the same co-bucketed fact-dim equi-join
    // (forced sort-merge, broadcast off) timed with V2 bucketing ON (the
    // scans report KeyGroupedPartitioning → zero Exchange) and OFF
    // (ordinary shuffle join over identical files). The delta is the
    // per-query price of the two shuffles the bucket layout pre-paid.
    val spjRes: Option[(Meas, Meas)] =
      if (p1Dir.isEmpty && p2Dir.isEmpty) None
      else try Some(rddGuard("spj_join") {
        // prefer the 100x corpus: the bigger the join, the more the two
        // saved shuffles matter — the point of the comparison
        val docs = docsAt(p2Dir.orElse(p1Dir).get)
          .select(col("doc_id").cast("long").as("id"), col("text"))
          .localCheckpoint()
        val prevConfs = Seq("spark.sql.catalog.graftb",
          "spark.sql.catalog.graftb.warehouse",
          "spark.sql.sources.v2.bucketing.enabled",
          "spark.sql.autoBroadcastJoinThreshold")
          .map(k => k -> sparkS.conf.getOption(k))
        sparkS.conf.set("spark.sql.catalog.graftb", "graft.sql.GraftTableCatalog")
        sparkS.conf.set("spark.sql.catalog.graftb.warehouse",
          SparkEntry.trackedTempDir("graft_bench_spj").toString)
        try {
          docs.select(col("id"),
              graft.ext.functions.fingerprint64(col("text")).as("h"))
            .writeTo("graftb.b.spj_fact")
            .partitionedBy(org.apache.spark.sql.functions.bucket(32, col("id")))
            .createOrReplace()
          docs.select(col("id"),
              org.apache.spark.sql.functions.length(col("text")).as("len"))
            .writeTo("graftb.b.spj_dim")
            .partitionedBy(org.apache.spark.sql.functions.bucket(32, col("id")))
            .createOrReplace()
          sparkS.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val q = "SELECT /*+ MERGE(a) */ a.id, a.h, b.len " +
            "FROM graftb.b.spj_fact a JOIN graftb.b.spj_dim b ON a.id = b.id"
          def timed(enabled: Boolean): Meas = {
            sparkS.conf.set("spark.sql.sources.v2.bucketing.enabled",
              enabled.toString)
            measure(() => noop(sparkS.sql(q)), 3, warm = true)
          }
          val on = timed(enabled = true)
          val off = timed(enabled = false)
          ext.Dedup.release(docs)
          (on, off)
        } finally prevConfs.foreach {
          case (k, Some(v)) => sparkS.conf.set(k, v)
          case (k, None) => sparkS.conf.unset(k)
        }
      }) catch { case e: Throwable =>
        System.err.println(s"[bench][spj_join]: ${e.getMessage}"); None
      }
    val spjHead = spjRes.map { case (on, off) =>
      s""","spj_join":{"spj":${jnum(on.med)},"shuffle":${jnum(off.med)}}"""
    }.getOrElse("")
    val spjDetail = spjRes.map { case (on, off) =>
      s""","spj_join":{"spj":[${jnum(on.min)},${jnum(on.med)}],"shuffle":[${jnum(off.min)},${jnum(off.med)}],"buckets":32,"corpus":"${p2Dir.orElse(p1Dir).get}"}"""
    }.getOrElse("")
    // -------- FACT-FACT storage-partitioned join at the 10x AND 100x
    // points: the 100 TB claim is REPEATED fact-fact joins, where both
    // sides are large and multi-row per key (join fan-out), not the
    // fact-dim shape above. Two facts bucket(32, key) — ~8 and ~4 rows
    // per key — joined and aggregated on the key (MERGE hint, broadcast
    // off); with SPJ the join AND the group-by plan zero Exchange. The
    // delta vs shuffle grows with the point, which is the point.
    val spjFF: Seq[(Int, Meas, Meas)] =
      Seq(1 -> p1Dir, 2 -> p2Dir).flatMap {
        case (p, Some(dir)) =>
          try Some(rddGuard(s"spj_fact_fact@p$p") {
            val n = docsAt(dir).count()
            val k = math.max(1L, n / 8)
            val prevConfs = Seq("spark.sql.catalog.graftc",
              "spark.sql.catalog.graftc.warehouse",
              "spark.sql.sources.v2.bucketing.enabled",
              "spark.sql.autoBroadcastJoinThreshold")
              .map(kk => kk -> sparkS.conf.getOption(kk))
            sparkS.conf.set("spark.sql.catalog.graftc", "graft.sql.GraftTableCatalog")
            sparkS.conf.set("spark.sql.catalog.graftc.warehouse",
              SparkEntry.trackedTempDir("graft_bench_spjff").toString)
            try {
              sparkS.range(0, n)
                .select((col("id") % k).as("key"), (col("id") * 7L).as("a"))
                .writeTo("graftc.b.ff_a")
                .partitionedBy(org.apache.spark.sql.functions.bucket(32, col("key")))
                .createOrReplace()
              sparkS.range(0, n / 2)
                .select((col("id") % k).as("key"), (col("id") * 11L).as("b"))
                .writeTo("graftc.b.ff_b")
                .partitionedBy(org.apache.spark.sql.functions.bucket(32, col("key")))
                .createOrReplace()
              sparkS.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
              val q = "SELECT /*+ MERGE(x) */ x.key, count(*) AS m, " +
                "sum(x.a + y.b) AS s " +
                "FROM graftc.b.ff_a x JOIN graftc.b.ff_b y ON x.key = y.key " +
                "GROUP BY x.key"
              def timed(enabled: Boolean): Meas = {
                sparkS.conf.set("spark.sql.sources.v2.bucketing.enabled",
                  enabled.toString)
                measure(() => noop(sparkS.sql(q)), 3, warm = true)
              }
              (p, timed(enabled = true), timed(enabled = false))
            } finally prevConfs.foreach {
              case (kk, Some(v)) => sparkS.conf.set(kk, v)
              case (kk, None) => sparkS.conf.unset(kk)
            }
          }) catch { case e: Throwable =>
            System.err.println(s"[bench][spj_fact_fact@p$p]: ${e.getMessage}"); None
          }
        case _ => None
      }
    def spjFFJson: String =
      if (spjFF.isEmpty) ""
      else spjFF.map { case (p, on, off) =>
        s""""p$p":{"spj":[${jnum(on.min)},${jnum(on.med)}],"shuffle":[${jnum(off.min)},${jnum(off.med)}]}"""
      }.mkString(""","spj_fact_fact":{""", ",", ""","buckets":32,"rows_per_key":[8,4]}""")
    val spjFFHead =
      if (spjFF.isEmpty) ""
      else spjFF.map { case (p, on, off) =>
        s""""p$p":[${jnum(on.med)},${jnum(off.med)}]"""
      }.mkString(""","spj_fact_fact":{""", ",", "}")
    // -------- DPP / runtime file pruning: a fact-dim broadcast join
    // whose dim filter is only known at run time (the standing 100 TB
    // fact-dim shape q129 declares). The fact lands range-clustered on
    // the join key — 512 files, disjoint key ranges, so files far
    // outnumber cores like a real manifest — and the dim is a parquet
    // relation whose filter keeps ~0.1% of keys, one contiguous band
    // (the "recent entities" case). With
    // DPP on, the broadcast side's surviving keys reach the fact scan
    // as a runtime IN (SupportsRuntimeV2Filtering) and whole manifest
    // files drop before they are read; with the optimizer conf off, the
    // identical join reads every file. files_kept replays the runtime
    // predicate against the scan directly, so the recorded row carries
    // the PRUNING fact, not just the wall-clock it buys.
    // The block runs at THREE fact sizes (r12 verdict #5: the 512→1 file
    // prune is the 100 TB story, so it needs a scaling row, not one
    // point): 2M/64 files, 16.8M/512, 67M/2048. The recorded claim is
    // that the DPP wall GAIN (off/on) grows with scale while the
    // planning latency stays flat — the prune is O(manifest), the
    // savings O(data).
    case class RtPoint(n: Long, files: Int, on: Meas, off: Meas,
        filesTotal: Int, filesKept: Int, band: Long, planS: Double)
    def rtPoint(n: Long, files: Int): RtPoint = {
      val fn = org.apache.spark.sql.functions
      val band = n / 1000 // ~0.1% selective dim: the shape DPP fires for
      // the pad column gives the fact real scan weight (~180 B/row) so
      // the row measures scan-work saved, not just plan overhead — the
      // 100 TB ratio in miniature
      sparkS.range(0, n)
        .select(col("id").as("key"), (col("id") * 7L).as("payload"),
          fn.repeat(fn.concat(fn.lit("x"), col("id").cast("string")), 24)
            .as("pad"))
        .repartitionByRange(files, col("key"))
        .sortWithinPartitions("key")
        .writeTo("graftd.b.dpp_fact").createOrReplace()
      val dimPath = SparkEntry.trackedTempDir("graft_bench_dppdim").toString
      // dim size BOUNDED across scale points (the 100 TB shape: the fact
      // scales, the dim doesn't) — a dim growing 1:10 with the fact made
      // the dim-side scan dominate the pruned query at the largest point
      // and capped the recorded gain at ~1.2x regardless of the prune
      sparkS.range(0, math.min(n / 10, 1L << 20))
        .select(col("id").as("key"),
          fn.when(col("id") < band, fn.lit("hot"))
            .otherwise(fn.lit("cold")).as("temp"))
        .write.mode("overwrite").parquet(dimPath)
      sparkS.read.parquet(dimPath).createOrReplaceTempView("dpp_bench_dim")
      // BROADCAST hint pins the join shape across scale points: the
      // filtered dim is genuinely small (0.1% of keys), but the
      // planner's SIZE ESTIMATE of the unfiltered 6.7M-row dim at the
      // largest point exceeds the broadcast threshold, the join falls
      // to SMJ, and `reuseBroadcastOnly` then silently disables DPP —
      // the first recorded f2048 row measured an unpruned plan against
      // itself (gain 0.87, pure noise). The row's claim is what DPP
      // buys, not what the estimator picks.
      val q = "SELECT /*+ BROADCAST(d) */ sum(f.payload) AS s, " +
        "sum(length(f.pad)) AS lp, count(*) AS c " +
        "FROM graftd.b.dpp_fact f JOIN dpp_bench_dim d ON f.key = d.key " +
        "WHERE d.temp = 'hot'"
      // on/off reps INTERLEAVE (the round's measurement rule): the
      // first timed state otherwise absorbs the 12 GB fixture write's
      // page-cache writeback alone
      def setDpp(e: Boolean): Unit = sparkS.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.enabled", e.toString)
      def runQ(): Unit = noop(sparkS.sql(q))
      setDpp(true); runQ(); setDpp(false); runQ() // warm both plans
      val tsOn = scala.collection.mutable.Buffer[Double]()
      val tsOff = scala.collection.mutable.Buffer[Double]()
      for (_ <- 1 to 3) {
        setDpp(true)
        var t0 = System.nanoTime(); runQ()
        tsOn += (System.nanoTime() - t0) / 1e9
        setDpp(false)
        t0 = System.nanoTime(); runQ()
        tsOff += (System.nanoTime() - t0) / 1e9
      }
      def measOf(ts: Seq[Double]) = Meas(ts.min, ts.sorted.apply(ts.size / 2))
      val on = measOf(tsOn.toSeq)
      val off = measOf(tsOff.toSeq)
      // replay the runtime IN against the scan: files before/after
      import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead}
      import org.apache.spark.sql.connector.expressions.{Expressions, Expression => V2Expr}
      val shim = org.apache.spark.sql.graftshim.SparkInternals
      val scan = shim.catalogPlugin(sparkS, "graftd").get
        .asInstanceOf[graft.sql.GraftTableCatalog]
        .loadTable(Identifier.of(Array("b"), "dpp_fact"))
        .asInstanceOf[SupportsRead]
        .newScanBuilder(
          org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        .build()
      def fileCount(s: org.apache.spark.sql.connector.read.Scan): Int =
        s.toBatch.planInputPartitions().toSeq.flatMap(p =>
          shim.filePartitionFiles(p).map(_.map(_._1)).getOrElse(Nil))
          .distinct.size
      val filesBefore = fileCount(scan)
      val in = new org.apache.spark.sql.connector.expressions.filter.Predicate(
        "IN", (Expressions.column("key") +:
          (0L until band).map(i => Expressions.literal(Long.box(i))))
          .toArray[V2Expr])
      scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]
        .filter(Array(in))
      val filesAfter = fileCount(scan)
      // catalog PLANNING latency at this manifest size — the regression
      // guard for the schema-from-manifest fix (planning was ~1 s/query
      // when loadTable built a merged-view DataFrame for its schema; a
      // plan-time O(files) regression reads here long before it reads
      // in any execution row)
      val planQ = s"SELECT sum(payload) FROM graftd.b.dpp_fact WHERE key < $band"
      val planSecs = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        org.apache.spark.sql.graftshim.SparkInternals
          .executedPlanString(sparkS.sql(planQ))
        (System.nanoTime() - t0) / 1e9
      }.min
      RtPoint(n, files, on, off, filesBefore, filesAfter, band, planSecs)
    }
    val rtRes: Option[Seq[RtPoint]] =
      // gated on the scale corpora existing (full-matrix runs only); the
      // fact itself is synthesized at pinned sizes
      p2Dir.orElse(p1Dir).flatMap { _ =>
        try Some(rddGuard("runtime_filter") {
          val prevConfs = Seq("spark.sql.catalog.graftd",
            "spark.sql.catalog.graftd.warehouse",
            "spark.sql.optimizer.dynamicPartitionPruning.enabled")
            .map(k => k -> sparkS.conf.getOption(k))
          sparkS.conf.set("spark.sql.catalog.graftd", "graft.sql.GraftTableCatalog")
          sparkS.conf.set("spark.sql.catalog.graftd.warehouse",
            SparkEntry.trackedTempDir("graft_bench_dpp").toString)
          try Seq((1L << 21, 64), (1L << 24, 512), (1L << 26, 2048))
            .map { case (n, f) => rtPoint(n, f) }
          finally prevConfs.foreach {
            case (k, Some(v)) => sparkS.conf.set(k, v)
            case (k, None) => sparkS.conf.unset(k)
          }
        }) catch { case e: Throwable =>
          System.err.println(s"[bench][runtime_filter]: ${e.getMessage}"); None
        }
      }
    // headline keeps the r12 shape at the middle (512-file) point for
    // round-over-round continuity; the scaling points land beside it
    val rtHead = rtRes.map { ps =>
      val m = ps.find(_.files == 512).getOrElse(ps.last)
      val scaleJ = ps.map(p =>
        s""""f${p.files}":{"dpp":${jnum(p.on.med)},"off":${jnum(p.off.med)},"files":[${p.filesTotal},${p.filesKept}],"plan_s":${jnum(p.planS)}}""").mkString(",")
      s""","runtime_filter":{"dpp":${jnum(m.on.med)},"off":${jnum(m.off.med)},"files":[${m.filesTotal},${m.filesKept}],"plan_s":${jnum(m.planS)},"scaling":{$scaleJ}}"""
    }.getOrElse("")
    val rtDetail = rtRes.map { ps =>
      val scaleJ = ps.map(p =>
        s""""f${p.files}":{"rows":${p.n},"dpp":[${jnum(p.on.min)},${jnum(p.on.med)}],"off":[${jnum(p.off.min)},${jnum(p.off.med)}],"files_total":${p.filesTotal},"files_kept":${p.filesKept},"dim_keys":${p.band},"plan_s":${jnum(p.planS)},"gain":${jnum(p.off.med / math.max(1e-9, p.on.med))}}""").mkString(",")
      s""","runtime_filter":{"scaling":{$scaleJ}}"""
    }.getOrElse("")
    // ---------------- manifest-scale PLANNING stress (r13 verdict #5) ----
    // The DPP scaling row pins plan_s flat to 2048 files; the 100 TB
    // design point is 10⁵–10⁶ files. This block authors SYNTHETIC commit
    // logs (2^11 / 2^15 / 2^17 file entries with disjoint id ranges — no
    // data file is ever written or opened; planning is metadata-only by
    // design, which this block proves) and measures what the manifest
    // costs the DRIVER per query: cold first plan (registration + the
    // one-time commit-log parse), warm planned point query (slot-cached
    // manifest, stats prune to one file), partition planning over the
    // UNPRUNED list (toBatch — the O(files) path), and a DPP-style
    // runtime IN prune replayed against a fresh scan. Warm reps
    // interleave across the three sizes per the measurement rules.
    case class PsPoint(n: Int, coldS: Double, plan: Meas, parts: Meas,
      dpp: Meas, filesKept: Int, dppKept: Int)
    val psRes: Option[Seq[PsPoint]] =
      try Some(rddGuard("plan_stress") {
        val shim = org.apache.spark.sql.graftshim.SparkInternals
        import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead}
        import org.apache.spark.sql.connector.expressions.{Expressions, Expression => V2Expr}
        val prevConfs = Seq("spark.sql.catalog.graftp",
          "spark.sql.catalog.graftp.warehouse").map(k => k -> sparkS.conf.getOption(k))
        val wh = SparkEntry.trackedTempDir("graft_bench_plan").toString
        // synthetic roots live OUTSIDE the warehouse: a managed-path dir
        // that exists reads as "table already exists" to CREATE TABLE,
        // so these register as EXTERNAL locations (q113's pattern)
        val ext = SparkEntry.trackedTempDir("graft_bench_planx").toString
        sparkS.conf.set("spark.sql.catalog.graftp", "graft.sql.GraftTableCatalog")
        sparkS.conf.set("spark.sql.catalog.graftp.warehouse", wh)
        try {
          // 2^20 entries (r14 verdict #5): the 100 TB design point spans
          // 10^5–10^6 files, and the one honest O(files) driver cost —
          // the UNPRUNED toBatch partition materialization at ~11 µs/file
          // — projects to ~12 s there; record it rather than assert it.
          // Warm point planning must stay sub-second at every size.
          val sizes = Seq(2048, 32768, 131072, 1048576)
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("v",
              org.apache.spark.sql.types.LongType, nullable = false)))
          def mkLog(n: Int): Unit = {
            val root = s"$ext/ps$n"
            val logDir = java.nio.file.Paths.get(root, "_log")
            java.nio.file.Files.createDirectories(logDir)
            // STREAMED, entry by entry (same JSON CommitEntry.fromJson
            // reads back): the 2^20-entry log is a ~250 MB document, and
            // materializing the full entry Seq + toJson string in the
            // bench driver's heap would compete with late-suite Spark
            // state for no measurement benefit
            implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
            val w = new java.io.BufferedWriter(new java.io.FileWriter(
              logDir.resolve(f"${0L}%020d.json").toFile), 1 << 20)
            try {
              w.write("""{"action":"append","schemaJson":""")
              w.write(org.json4s.jackson.Serialization.write(schema.json))
              w.write(""","files":[""")
              var i = 0
              while (i < n) {
                if (i > 0) w.write(",")
                w.write(org.json4s.jackson.Serialization.write(
                  graft.tables.SnapshotTable.FileEntry(f"$root/data/f$i%07d.parquet",
                    1000L, 1L << 20,
                    Map(
                      "id" -> graft.tables.SnapshotTable.ColStats(
                        Some((i.toLong * 1000).toString),
                        Some((i.toLong * 1000 + 999).toString), Some(0L)),
                      "v" -> graft.tables.SnapshotTable.ColStats(Some("0"),
                        Some("999999"), Some(0L))),
                    mtime = Some(1700000000000L))))
                i += 1
              }
              w.write("]}")
            } finally w.close()
          }
          sizes.foreach(mkLog)
          def planOnce(n: Int): Double = {
            val t0 = System.nanoTime()
            shim.executedPlanString(sparkS.sql(
              s"SELECT sum(v) AS s FROM graftp.b.ps$n WHERE id = 1234567"))
            (System.nanoTime() - t0) / 1e9
          }
          // cold = registration + first plan (pays the commit-log parse)
          val colds = sizes.map { n =>
            val t0 = System.nanoTime()
            sparkS.sql(s"CREATE TABLE graftp.b.ps$n USING graft " +
              s"LOCATION '$ext/ps$n'")
            shim.executedPlanString(sparkS.sql(
              s"SELECT sum(v) AS s FROM graftp.b.ps$n WHERE id = 1234567"))
            n -> (System.nanoTime() - t0) / 1e9
          }.toMap
          def freshScan(n: Int) = shim.catalogPlugin(sparkS, "graftp").get
            .asInstanceOf[graft.sql.GraftTableCatalog]
            .loadTable(Identifier.of(Array("b"), s"ps$n"))
            .asInstanceOf[SupportsRead]
            .newScanBuilder(
              org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
            .build()
          def partFiles(s: org.apache.spark.sql.connector.read.Scan): Int =
            s.toBatch.planInputPartitions().toSeq.flatMap(p =>
              shim.filePartitionFiles(p).map(_.map(_._1)).getOrElse(Nil))
              .distinct.size
          def inPred(n: Int): org.apache.spark.sql.connector.expressions.filter.Predicate = {
            val step = n.toLong * 1000 / 64
            new org.apache.spark.sql.connector.expressions.filter.Predicate(
              "IN", (Expressions.column("id") +:
                (0 until 64).map(i => Expressions.literal(Long.box(i * step + 500))))
                .toArray[V2Expr])
          }
          val planT = sizes.map(_ -> scala.collection.mutable.Buffer[Double]()).toMap
          val partT = sizes.map(_ -> scala.collection.mutable.Buffer[Double]()).toMap
          val dppT = sizes.map(_ -> scala.collection.mutable.Buffer[Double]()).toMap
          val kept = scala.collection.mutable.Map[Int, Int]()
          val dppKept = scala.collection.mutable.Map[Int, Int]()
          for (_ <- 1 to 5; n <- sizes) {
            var t0 = System.nanoTime(); planOnce(n)
            planT(n) += (System.nanoTime() - t0) / 1e9
            val sUnf = freshScan(n)
            t0 = System.nanoTime()
            val nf = partFiles(sUnf)
            partT(n) += (System.nanoTime() - t0) / 1e9
            kept(n) = nf
            val sDpp = freshScan(n)
            t0 = System.nanoTime()
            sDpp.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]
              .filter(Array(inPred(n)))
            dppT(n) += (System.nanoTime() - t0) / 1e9
            dppKept(n) = partFiles(sDpp)
          }
          def measOf(ts: Seq[Double]) = Meas(ts.min, ts.sorted.apply(ts.size / 2))
          sizes.map(n => PsPoint(n, colds(n), measOf(planT(n).toSeq),
            measOf(partT(n).toSeq), measOf(dppT(n).toSeq), kept(n), dppKept(n)))
        } finally {
          Seq(2048, 32768, 131072, 1048576).foreach { n =>
            try sparkS.sql(s"DROP TABLE IF EXISTS graftp.b.ps$n")
            catch { case scala.util.control.NonFatal(_) => () }
          }
          prevConfs.foreach {
            case (k, Some(v)) => sparkS.conf.set(k, v)
            case (k, None) => sparkS.conf.unset(k)
          }
        }
      }) catch { case e: Throwable =>
        System.err.println(s"[bench][plan_stress]: ${e.getMessage}"); None
      }
    val psHead = psRes.map { ps =>
      val j = ps.map(p =>
        s""""n${p.n}":{"cold_s":${jnum(p.coldS)},"plan_s":${jnum(p.plan.med)},"parts_s":${jnum(p.parts.med)},"dpp_s":${jnum(p.dpp.med)}}""").mkString(",")
      s""","plan_stress":{$j}"""
    }.getOrElse("")
    val psDetail = psRes.map { ps =>
      val j = ps.map(p =>
        s""""n${p.n}":{"cold_s":${jnum(p.coldS)},"plan_s":[${jnum(p.plan.min)},${jnum(p.plan.med)}],"parts_s":[${jnum(p.parts.min)},${jnum(p.parts.med)}],"dpp_s":[${jnum(p.dpp.min)},${jnum(p.dpp.med)}],"files_unpruned":${p.filesKept},"files_dpp_kept":${p.dppKept}}""").mkString(",")
      s""","plan_stress":{$j,"reps":5,"interleaved":true}"""
    }.getOrElse("")
    def mwPhasesJson(m: MwResult): String = {
      val ph = m.phases.map { case (k, v) => s""""$k":${jnum(v)}""" }.mkString(",")
      val cov = if (m.busySec > 0) m.phases.map(_._2).sum / m.busySec else 0.0
      s""""phases":{$ph},"busy_s":${jnum(m.busySec)},"recompute_s":${jnum(m.recomputeSec)},"phase_coverage":${jnum(cov)},"calib_pair":[${jnum(m.calibPair._1)},${jnum(m.calibPair._2)}]"""
    }
    def refJson(r: (Seq[Double], Seq[Double], Long), detail: Boolean): String = {
      val (m, l, rows) = r
      def pair(xs: Seq[Double]) =
        s"[${jnum(xs.min)},${jnum(xs.sorted.apply(xs.size / 2))}]"
      val extra = if (detail)
        s""","reps":${m.size},"anchor":"BASELINE.md: Athena id=103 lookup 0.664-3.619 s (2 rows); merge = one EMR job"""" else ""
      s""","reference_scale":{"merge_s":${pair(m)},"lookup_s":${pair(l)},"lookup_rows":$rows$extra}"""
    }
    val refHead = refScale.map(refJson(_, detail = false)).getOrElse("")
    val refDetail = refScale.map(refJson(_, detail = true)).getOrElse("")
    val mwHead = mw.map { m =>
      s""","multi_writer":{"commits_per_sec":${jnum(m.commits / m.sec)},"rebases":${m.rebases},"conflicts":${m.conflicts},"serial_equiv":${m.ok},${mwPhasesJson(m)}}"""
    }.getOrElse("")
    val mwDetail = mw.map { m =>
      s""","multi_writer":{"sec":${jnum(m.sec)},"commits":${m.commits},"writers":4,"upserts_per_writer":5,"compact_passes":3,"commits_per_sec":${jnum(m.commits / m.sec)},"rebases":${m.rebases},"conflicts":${m.conflicts},"serial_equiv":${m.ok},${mwPhasesJson(m)}}"""
    }.getOrElse("")
    // end-of-run calibration: the suite + scale matrix take ~15 min, long
    // enough for box conditions to change under the measurements
    val (calibCpu1, calibSpark1) = calibrate(sparkS)
    // pass_calib: one ~0.1 s probe per suite pass (reps+1 brackets) — a
    // burst during pass k reads directly as an elevated pass_calib[k],
    // making the suite rows' min/med spread attributable IN the artifact
    val calib =
      s""","calib":{"cpu":${jnum(calibCpu0)},"spark":${jnum(calibSpark0)},"cpu_end":${jnum(calibCpu1)},"spark_end":${jnum(calibSpark1)},"pass_calib":${passCalibs.map(jnum).mkString("[", ",", "]")}}"""
    val ccDetail = ccResult.map { case (_, _, eLo, eHi) =>
      s""","cc_edges":{"lo":$eLo,"hi":$eHi,"driver_threshold":${1L << 20},"hi_past_threshold":${eHi > (1L << 20)},"lo_dir":"${sc.DenseLoDir}","hi_dir":"${sc.DenseHiDir}"}"""
    }.getOrElse("")
    val pointsDetail =
      s""","scaling_points":{"p0":"$sfDir","p1":"${p1Dir.getOrElse("")}","p2":"${p2Dir.getOrElse("")}"}"""
    // headline carries exponents only ([exp_min, exp_med]); lo/hi
    // wall-clocks and rep counts live in BENCH_DETAIL.json — the
    // driver's tail capture keeps ~2000 chars and the r6 bench lost
    // its suite head to exactly this
    val rddHead =
      if (rddRetained.isEmpty) ""
      else s""","rdd_retained_rows":${rddRetained.size}"""
    val scaling = s""","scaling_fmt":"[exp_min,exp_med,exp_cal]"""" +
      headBlock("scaling_10x", block10) + headBlock("scaling_100x", block100) +
      // plan_stress lives in the DETAIL record only: the driver's tail
      // capture keeps ~2000 chars and r14's headline already overflowed
      // it (BENCH_r14.json parsed:null) — every byte here costs the head
      bpeHead + mwHead + refHead + imHead + spjHead + spjFFHead + rtHead + rddHead
    // {} when every row released what it pinned — recording the emptiness
    // is the point (the structural form of the r10 one-off leak probe)
    val rddDetail = s""","rdd_retained":${rddRetained.map { case (k, v) =>
      "\"" + k + "\":" + v }.mkString("{", ",", "}")}"""
    val scalingDetail = pointsDetail +
      detailBlock("scaling_10x", block10) +
      detailBlock("scaling_100x", block100) +
      ccDetail + bpeDetail + mwDetail + refDetail + imDetail + spjDetail + spjFFJson +
      rtDetail + psDetail + rddDetail
    // Testdata fingerprint: per-table row counts + an order-independent
    // content hash (bit_xor of per-row xxhash64). The driver may
    // REGENERATE /root/testdata between rounds (round 6's events.ts type
    // flip; r7's q38-q40 drift) — recording the fingerprint makes fixture
    // drift distinguishable from performance regression by construction.
    val fpTables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val fps: Seq[(String, Long, Long)] = fpTables.flatMap { t =>
      try {
        val df = sparkS.read.parquet(s"$sfDir/$t.parquet")
        val hashExpr = s"bit_xor(xxhash64(${df.columns.map(c => s"`$c`").mkString(",")}))"
        val row = df.selectExpr("count(1)", hashExpr).head()
        Some((t, row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1)))
      } catch { case e: Throwable =>
        System.err.println(s"[bench][fp] $t: ${e.getMessage}"); None
      }
    }
    val fpHex = f"${fps.foldLeft(0L) { case (acc, (_, n, h)) =>
      acc ^ h ^ java.lang.Long.rotateLeft(n * 0x9E3779B97F4A7C15L, 17) }}%016x"
    val fpDetail = fps.map { case (t, n, h) =>
      "\"" + t + s"""\":{"rows":$n,"hash":"${f"$h%016x"}"}"""
    }.mkString("{", ",", "}")

    // Worst-3 regressions vs the previous recorded round (min vs min) —
    // suppressed entirely when the previous round recorded a DIFFERENT
    // testdata fingerprint (the numbers are not comparable; r7 burned a
    // worst-3 slot on exactly that).
    val prevPath = sys.env.get("SPARK_GRAFT_PREV_BENCH").orElse(defaultPrevBench())
    val prevFp: Option[String] = prevPath.flatMap { p =>
      val f = new java.io.File(p)
      if (!f.isFile) None
      else scala.util.Try(scala.io.Source.fromFile(f, "UTF-8").mkString).toOption
        .flatMap("""testdata_fp\\?":\s*\\?"([0-9a-f]{16})""".r
          .findFirstMatchIn(_).map(_.group(1)))
    }
    val fixtureDrift = prevFp.exists(_ != fpHex)
    val prev = prevPath.map(prevMins).getOrElse(Map.empty)
    val deltas = minima.toSeq.flatMap { case (k, now) =>
      prev.get(k).filter(p => p > 0 && now > 0).map(p => (k, p, now, now / p))
    }.sortBy(-_._4).take(3)
    val worst = if (fixtureDrift) "[]"
      else deltas.map { case (k, p, now, r) =>
        "{\"q\":\"" + k + s"""\",\"prev\":${jnum(p)},\"now\":${jnum(now)},\"ratio\":${f"$r%.2f"}}"""
      }.mkString("[", ",", "]")
    val worstNote = if (fixtureDrift)
      s""","worst3_note":"suppressed: testdata fingerprint changed (prev ${prevFp.get})"""" else ""
    val lookups = lookupClass.flatMap(k => minima.get(k).map(v => "\"" + k + "\":" + jnum(v)))
      .mkString("{", ",", "}")

    // record the JVM heap beside the measurements: the r15 default moved
    // 8g → 16g (plan_stress 2^20), and a heap change is instrument state
    // a cross-round reader should see
    val heapGb = Runtime.getRuntime.maxMemory() / (1L << 30)
    val detailLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_min":$totalMin%.3f,"reps":$reps,"interleaved_passes":true,"driver_heap_gb":$heapGb,"queries":$qs,"queries_min":$mins,"mutation_reps":$perRep,"lifecycle_phases":{"warm":${phasesJson(warmPhases)},"steady":${phasesJson(steadyPhases)}},"testdata_fp":"$fpHex","testdata_fingerprint":$fpDetail$calib$scalingDetail,"sf":"$sfDir"}"""
    // Round-stamped detail record alongside the floating latest: the r13
    // driver run overwrote the committed dev record in the working tree,
    // silently replacing one measurement with another. Each run now also
    // writes BENCH_DETAIL_r<N>[<tag>].json (N inferred from the highest
    // BENCH_r*.json present + 1; tag from SPARK_GRAFT_BENCH_TAG, e.g.
    // "_dev" for development records) so records coexist in git.
    val roundN = sys.env.get("SPARK_GRAFT_ROUND").flatMap(s =>
        scala.util.Try(s.toInt).toOption).getOrElse {
      val re = """BENCH_r(\d+)\.json""".r
      val ns = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .flatMap(f => re.findFirstMatchIn(f.getName).map(_.group(1).toInt))
      if (ns.isEmpty) 0 else ns.max + 1
    }
    val tag = sys.env.getOrElse("SPARK_GRAFT_BENCH_TAG", "")
    for (fname <- Seq("BENCH_DETAIL.json", f"BENCH_DETAIL_r$roundN%02d$tag.json")) {
      try {
        val w = new java.io.PrintWriter(new java.io.File(fname), "UTF-8")
        try w.println(detailLine) finally w.close()
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $fname write failed: ${e.getMessage}")
      }
    }
    println(detailLine)
    // Headline block LAST: this is the line the tail capture must
    // preserve. Per-query medians/minima, per-rep mutation timings, and
    // full scaling lo/hi detail all live in BENCH_DETAIL.json — the
    // headline keeps only what is graded against BASELINE.md plus the
    // exponent summary, to stay inside the ~2000-char tail.
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_min":$totalMin%.3f,"gate":"total_min","reps":$reps,"interleaved_passes":true,"n_queries":${results.size},"lookup_min":$lookups,"worst3_vs_prev":$worst$worstNote,"testdata_fp":"$fpHex","prev_bench":"${prevPath.getOrElse("none")}"$calib$scaling,"detail_file":"BENCH_DETAIL.json","sf":"$sfDir"}""")
    // Final ultra-compact line: the driver keeps the LAST ~2000 chars of
    // stdout and json-parses what it finds — r14's full headline
    // overflowed that window and the round record came back
    // parsed:null. This line (<400 chars) always survives intact.
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_min":$totalMin%.3f,"gate":"total_min","reps":$reps,"n_queries":${results.size},"lookup_min":$lookups,"testdata_fp":"$fpHex","detail_file":"BENCH_DETAIL.json","sf":"$sfDir"}""")
    sparkS.stop()
  }
}
