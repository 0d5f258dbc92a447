package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SparkInternals.executedPlanString

import graft.tables.SnapshotTable

/**
 * Physical-plan shape assertions — the 100 TB audit as tests: filters
 * reach the parquet scan, small dimensions broadcast, columns prune,
 * native expressions stay inside whole-stage codegen, and the snapshot
 * point lookup opens exactly one file.
 */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("filter is pushed down to the parquet scan (q01 shape)") {
    SparkEntry.registerViews(spark, dir)
    val plan = executedPlanString(
      spark.sql("SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 45"))
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"no pushdown in:\n$plan")
    // column pruning: ReadSchema carries only the two referenced columns
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"no column pruning in:\n$plan")
  }

  test("small dimension side broadcasts (q12 shape)") {
    SparkEntry.registerViews(spark, dir)
    val plan = executedPlanString(spark.sql(
      """SELECT n.n_name, COUNT(*) AS suppliers FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY n.n_name""".stripMargin))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("native ext expressions run inside WholeStageCodegen") {
    SparkEntry.registerViews(spark, dir)
    val df = spark.table("documents").select(
      ext.functions.fingerprint64(col("text")),
      ext.functions.simhash64(ext.TextAnalysis.tokens(col("text"))))
    val plan = executedPlanString(df)
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [fingerprint64("), s"no codegen span in:\n$plan")
    assert(!plan.contains("CodegenFallback"), s"codegen fallback in:\n$plan")
    // the int8 quantization kernels fuse too (q79's hot path)
    val q = spark.table("embeddings").select(
      ext.functions.int8Cosine(ext.functions.int8Codes(col("embedding")),
        ext.functions.int8Codes(col("embedding"))))
    val qPlan = executedPlanString(q)
    assert(qPlan.contains("*(1) Project [int8cosine(int8codes("),
      s"no codegen span in:\n$qPlan")
    assert(!qPlan.contains("CodegenFallback"), s"codegen fallback in:\n$qPlan")
  }

  test("snapshot point lookup scans exactly one file after pruning") {
    val t = SnapshotTable.create(spark, tmpDir("plan"),
      spark.read.parquet(s"$dir/orders.parquet")
        .repartitionByRange(8, col("o_orderkey")))
    assert(t.manifest().size === 8)
    assert(t.prunedManifest(col("o_orderkey") === 103).size === 1)
    val rows = t.scan(col("o_orderkey") === 103).collect()
    assert(rows.length === 1)
  }

  test("dedup/similarity pair generation never plans a cross join") {
    SparkEntry.registerViews(spark, dir)
    val docs = spark.table("documents")
    val emb = spark.table("embeddings")
    // materialize=false keeps the minhash/jaccard pipelines lazy so the
    // assertion inspects the REAL join plan, not a checkpointed scan
    val plans = Seq(
      "minhash" -> ext.Dedup.minhashPairs(docs, "doc_id", "text", materialize = false),
      "jaccard" -> ext.Dedup.jaccardPairs(docs, "doc_id", "text", materialize = false),
      "simhash" -> ext.Dedup.simhashPairs(docs, "doc_id", "text"),
      "embedding" -> ext.Dedup.embeddingPairs(emb, "vec_id", "embedding",
        materialize = false),
      "lshTopK" -> ext.Similarity.lshTopK(emb, emb.limit(5), "vec_id", "embedding",
        materialize = false),
      "ivfTopK" -> ext.Similarity.ivfTopK(emb, emb.limit(5), "vec_id", "embedding",
        nlist = 4, nProbe = 2, sampleN = 200))
    plans.foreach { case (name, df) =>
      val plan = executedPlanString(df)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested-loop join:\n$plan")
    }
  }

  test("embedding pair miners never shuffle the candidate pair list") {
    // the r10 discipline: exact-cosine confirmation runs INSIDE the
    // banded self-join, so the only shuffles are the keyed corpus
    // (linear, vector aboard) and the tiny survivor dedup — the
    // candidate pairs (the super-linear volume) stream through the
    // filter without an Exchange. The r9 id-only-candidates shape
    // shuffled them three times (distinct + two vector re-joins) and
    // measured wall-clock exp 1.7 at the 100x stress.
    SparkEntry.registerViews(spark, dir)
    val emb = spark.table("embeddings")
    val pairPlan = executedPlanString(
      ext.Dedup.embeddingPairs(emb, "vec_id", "embedding", materialize = false))
    val topkPlan = executedPlanString(
      ext.Similarity.lshTopK(emb, emb.limit(5), "vec_id", "embedding",
        materialize = false))
    for ((name, plan) <- Seq("embeddingPairs" -> pairPlan, "lshTopK" -> topkPlan)) {
      // exactly ONE join in the whole plan: the banded self-join with
      // the cosine confirm aboard. Vector re-joins against the
      // candidate list (the r9 shape) would plan two more joins.
      val joins = "Join".r.findAllIn(plan).length
      assert(joins === 1, s"$name plans $joins joins (candidates re-joined?):\n$plan")
      assert(plan.contains("cosinesimilarity"), s"$name lost the in-join confirm:\n$plan")
    }
  }

  test("text-ratio counting kernels stay inside WholeStageCodegen (q47 shape)") {
    SparkEntry.registerViews(spark, dir)
    val df = spark.table("documents").select(
      ext.TextAnalysis.punctRatio(col("text")),
      ext.TextAnalysis.stopwordRatio(col("text")),
      ext.TextAnalysis.avgTokenLength(col("text")))
    val plan = executedPlanString(df)
    assert(plan.contains("punctcount(") && plan.contains("stopwordhits(") &&
      plan.contains("spacetokencount("), s"kernels missing from plan:\n$plan")
    assert(plan.contains("*(1) Project ["), s"no codegen span in:\n$plan")
    assert(!plan.contains("CodegenFallback"), s"codegen fallback in:\n$plan")
    // the rewriting regex forms are gone from the q47 hot path
    assert(!plan.contains("regexp_replace"), s"regex rewrite survived in:\n$plan")
  }

  test("hashed shingling stays inside WholeStageCodegen") {
    SparkEntry.registerViews(spark, dir)
    val df = spark.table("documents").select(
      ext.functions.hashedShingles(col("text"), 3),
      ext.functions.minhashSignature(ext.functions.hashedShingles(col("text"), 3)))
    val plan = executedPlanString(df)
    assert(plan.contains("*(1) Project [hashedshingles("), s"no codegen span in:\n$plan")
    assert(!plan.contains("CodegenFallback"), s"codegen fallback in:\n$plan")
  }

  test("decontamination probes a broadcast left-semi join (corpus never shuffles)") {
    SparkEntry.registerViews(spark, dir)
    val docs = spark.table("documents")
    val bench = docs.filter(col("doc_id") % 20 === 3).select(col("text"))
    val plan = executedPlanString(
      ext.Decontaminate.contaminatedIds(docs, "doc_id", "text", bench, "text", n = 5))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected broadcast left-semi probe in:\n$plan")
  }

  test("semantic decontamination: corpus never shuffles in the broadcast regime; " +
      "bucketed regime equi-joins") {
    SparkEntry.registerViews(spark, dir)
    val emb = spark.table("embeddings")
    val bench = emb.filter(col("vec_id") % 50 === 0)
    // broadcast regime (bench under the cutover): the benchmark rides a
    // BroadcastExchange; the only hash exchange is the final tiny
    // distinct on flagged ids — the corpus scan itself never shuffles
    val bPlan = executedPlanString(ext.Decontaminate.semanticContaminatedIdsAuto(
      emb, "vec_id", "embedding", bench, "embedding", minCos = 0.95))
    assert(bPlan.contains("BroadcastExchange"), s"benchmark not broadcast in:\n$bPlan")
    assert("Exchange hashpartitioning".r.findAllIn(bPlan).size === 1,
      s"corpus side shuffles in the broadcast regime:\n$bPlan")
    // bucketed regime (cutover 0): candidate generation is an equi-join
    // on (seed, bucket) — never a cartesian/nested-loop pairing
    val lPlan = executedPlanString(ext.Decontaminate.semanticContaminatedIdsAuto(
      emb, "vec_id", "embedding", bench, "embedding", minCos = 0.95,
      broadcastMaxBenchRows = 0))
    assert(!lPlan.contains("CartesianProduct") &&
      !lPlan.contains("BroadcastNestedLoopJoin"),
      s"bucketed regime plans a cross join:\n$lPlan")
  }

  test("MoR merged read plans as anti-join + union, never a cross join") {
    val t = SnapshotTable.create(spark, tmpDir("mor_plan"),
      spark.range(0, 1000).toDF("id").withColumn("v", lit("base")).withColumn("ts", lit(0L)))
    t.upsertDeferred(Seq((5L, "d", 1L)).toDF("id", "v", "ts"),
      keys = Seq("id"), precombine = "ts")
    val plan = executedPlanString(t.read())
    assert(!plan.contains("CartesianProduct"), s"cartesian in MoR read:\n$plan")
    assert(plan.contains("Union"), s"no union in MoR read:\n$plan")
  }

  test("domain cap gets map-side top-k pruning on both phases (q56 shape)") {
    val plan = executedPlanString(SparkEntry.queries("q56_domain_cap")(spark, dir))
    // Spark's WindowGroupLimit prunes to the per-group top n BEFORE each
    // exchange — rows beyond the cap never shuffle; two phases = 4 nodes
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 4, s"no group-limit pruning in:\n$plan")
  }

  test("sequence packing shuffles once, then streams (q57/q61 shape)") {
    for (q <- Seq("q57_seq_packing", "q61_pack_sequences")) {
      val plan = executedPlanString(SparkEntry.queries(q)(spark, dir))
      // exactly one data exchange (the shard repartition) before the
      // MapPartitions; the trailing orderBy exchange is presentation-only
      val body = plan.substring(0, plan.indexOf("MapPartitions"))
      assert("Exchange".r.findAllIn(body).size === 1, s"extra shuffle in $q:\n$plan")
    }
  }

  test("kmv sketch aggregates partial/final — only k-bounded buffers shuffle (q58 shape)") {
    val plan = executedPlanString(SparkEntry.queries("q58_kmv_distinct")(spark, dir))
    assert(plan.contains("partial_kmv_distinct"), s"no partial aggregation in:\n$plan")
    // no Expand node: the sketch replaces count(DISTINCT)'s expand+regroup
    assert(!plan.contains("Expand"), s"unexpected expand in:\n$plan")
  }

  test("no declared query plans a cartesian product (q22/q45 brute-force NLJ excepted)") {
    // q22 broadcasts a small probe set by design (documented baseline);
    // q45's exhaustive-probe configuration behaves the same via its list
    // join, which is an equi-join — only q22 may nested-loop. q72's NLJ
    // build side is the one-row corpus-stats scalar aggregate — O(n)
    // by construction; the assertion below pins that the ONLY broadcast
    // feeding its NLJ is a global (keys=[]) aggregate, so a regression
    // to a many-row build side fails loudly.
    // scalar-agg NLJs: the build side must be a one-row global aggregate
    // (keys=[]) — O(n) by construction; a regression to a many-row build
    // side fails loudly
    val allowNlj = Map(
      "q22_cosine_topk" -> None, // small-probe broadcast by documented design
      "q79_int8_topk" -> None, // same brute-force small-probe design, SQ8 codes
      "q97_hard_negatives" -> None, // q22's small-probe broadcast, pairs ride it
      "q103_rrf_fusion" -> None, // dense side IS q22's small-probe broadcast
      "q98_semantic_decontam" -> None, // small benchmark set broadcasts by design
      "q72_bm25_search" -> Some("HashAggregate(keys=[], functions=[count(1), avg("),
      "q76_unigram_logprob" -> Some("HashAggregate(keys=[], functions=[sum(tf"),
      "q82_dsir_weights" -> Some("HashAggregate(keys=[], functions=[sum(tf_raw"),
      "q83_dsir_sample" -> Some("HashAggregate(keys=[], functions=[sum(tf_raw"),
      "q90_bigram_logprob" -> Some("HashAggregate(keys=[], functions=[count(distinct token"),
      "q92_pmi_collocations" -> Some("HashAggregate(keys=[], functions=[sum(c2"))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = executedPlanString(fn(spark, dir))
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
      if (!allowNlj.contains(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans a nested-loop join:\n$plan")
      allowNlj.get(name).flatten.foreach { scalarAgg =>
        if (plan.contains("BroadcastNestedLoopJoin")) {
          val bcast = plan.substring(plan.indexOf("BroadcastNestedLoopJoin"))
          assert(bcast.contains(scalarAgg),
            s"$name's nested-loop build side is not the one-row stats aggregate:\n$plan")
        }
      }
    }
  }

  test("storage-partitioned join: co-bucketed tables join with no shuffle") {
    // two tables identity-routed on bucket(8, id): the scan reports
    // KeyGroupedPartitioning through the catalog's bucket function, so
    // the equi-join aligns the per-bucket partitions directly — the
    // layout shuffle was paid ONCE at write time, the join pays none
    def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    spark.sql("DROP TABLE IF EXISTS graft.db.spj_fact")
    spark.sql("DROP TABLE IF EXISTS graft.db.spj_dim")
    spark.sql("CREATE TABLE graft.db.spj_fact (id BIGINT, v BIGINT) " +
      "USING graft PARTITIONED BY (bucket(8, id))")
    spark.sql("CREATE TABLE graft.db.spj_dim (id BIGINT, w STRING) " +
      "USING graft PARTITIONED BY (bucket(8, id))")
    spark.range(0, 4000).select(col("id"), (col("id") * 3).as("v"))
      .writeTo("graft.db.spj_fact").append()
    spark.range(0, 1000).select(col("id"), concat(lit("w"), col("id")).as("w"))
      .writeTo("graft.db.spj_dim").append()
    val q = "SELECT f.id, f.v, d.w FROM graft.db.spj_fact f " +
      "JOIN graft.db.spj_dim d ON f.id = d.id"
    val expected = (0L until 1000L).map(i => (i, i * 3, s"w$i")).toSet
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = executedPlanString(df)
      assert(!plan.contains("Exchange"), s"shuffle in SPJ plan:\n$plan")
      assert(plan.contains("KeyGrouped(bucket(8, id))"),
        s"scan did not report the bucket layout:\n$plan")
      assert(df.as[(Long, Long, String)].collect().toSet === expected)
      // the same report satisfies an AGGREGATION's clustering: group-by
      // on the bucketed key plans without an exchange too
      val agg = spark.sql(
        "SELECT id, count(*) AS c FROM graft.db.spj_fact GROUP BY id")
      val aggPlan = executedPlanString(agg)
      assert(!aggPlan.contains("Exchange"),
        s"shuffle in bucketed group-by:\n$aggPlan")
      assert(agg.as[(Long, Long)].collect().toSet
        === (0L until 4000L).map(_ -> 1L).toSet)
    }
    // degradation is structural: v2 bucketing OFF (it defaults ON in
    // Spark 4) → the scan never reports, ordinary shuffle join, same rows
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = executedPlanString(df)
      assert(plan.contains("Exchange"), s"expected shuffle with SPJ off:\n$plan")
      assert(df.as[(Long, Long, String)].collect().toSet === expected)
    }
  }

  test("SPJ merge join runs with zero Exchange AND zero Sort (reported write order)") {
    // single-file bucket groups report their written key order
    // (SupportsReportOrdering), so the forced sort-merge join drops the
    // per-query Sort nodes too — the full SPJ dividend
    def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    spark.sql("DROP TABLE IF EXISTS graft.db.spjo_fact")
    spark.sql("DROP TABLE IF EXISTS graft.db.spjo_dim")
    spark.sql("CREATE TABLE graft.db.spjo_fact (id BIGINT, v BIGINT) " +
      "USING graft PARTITIONED BY (bucket(8, id))")
    spark.sql("CREATE TABLE graft.db.spjo_dim (id BIGINT, w STRING) " +
      "USING graft PARTITIONED BY (bucket(8, id))")
    spark.range(0, 4000).select(col("id"), (col("id") * 3).as("v"))
      .writeTo("graft.db.spjo_fact").append()
    spark.range(0, 1000).select(col("id"), concat(lit("w"), col("id")).as("w"))
      .writeTo("graft.db.spjo_dim").append()
    val q = "SELECT /*+ MERGE(f) */ f.id, f.v, d.w FROM graft.db.spjo_fact f " +
      "JOIN graft.db.spjo_dim d ON f.id = d.id"
    val expected = (0L until 1000L).map(i => (i, i * 3, s"w$i")).toSet
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = executedPlanString(df)
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"shuffle in SPJ plan:\n$plan")
      assert(!plan.contains(" Sort ["), s"per-query sort survived in:\n$plan")
      assert(df.as[(Long, Long, String)].collect().toSet === expected)
      // a SECOND append gives two files per bucket — concatenated sorted
      // runs are NOT sorted, so the ordering must un-report and the
      // sorts come back (degradation, never a wrong answer)
      spark.range(4000, 5000).select(col("id"), (col("id") * 3).as("v"))
        .writeTo("graft.db.spjo_fact").append()
      val df2 = spark.sql(q)
      val plan2 = executedPlanString(df2)
      assert(!plan2.contains("Exchange"), s"shuffle after append:\n$plan2")
      assert(plan2.contains(" Sort [id#"),
        s"multi-file groups must not claim write order:\n$plan2")
      assert(df2.as[(Long, Long, String)].collect().toSet === expected)
    }
    spark.sql("DROP TABLE graft.db.spjo_fact")
    spark.sql("DROP TABLE graft.db.spjo_dim")
  }

  test("partially-clustered SPJ keeps a skewed bucket's files as separate tasks") {
    // per-file partition emission is what makes this possible: with the
    // conf on, Spark leaves the SKEWED side's hot-bucket files ungrouped
    // (separate tasks) and replicates the other side's group — the SPJ
    // answer to bucket skew at 100 TB. Zero Exchange either way.
    def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    spark.sql("DROP TABLE IF EXISTS graft.db.spjs_fact")
    spark.sql("DROP TABLE IF EXISTS graft.db.spjs_dim")
    spark.sql("CREATE TABLE graft.db.spjs_fact (id BIGINT, v BIGINT) " +
      "USING graft PARTITIONED BY (bucket(4, id))")
    spark.sql("CREATE TABLE graft.db.spjs_dim (id BIGINT, w BIGINT) " +
      "USING graft PARTITIONED BY (bucket(4, id))")
    // three appends: the fact's hot key (id=0) lands three files in ONE
    // bucket; every other key appears once
    for (r <- 0 until 3)
      spark.range(0, 400).select(
          when(col("id") < 100, lit(0L)).otherwise(col("id") + lit(r * 1000L)).as("id"),
          col("id").as("v"))
        .writeTo("graft.db.spjs_fact").append()
    spark.range(0, 3000).select(col("id"), (col("id") * 5).as("w"))
      .writeTo("graft.db.spjs_dim").append()
    // plain join, no agg on top: partially-clustered output intentionally
    // loses the clustered distribution (a key can span partitions), so a
    // downstream group-by would legitimately re-shuffle — the claim here
    // is the JOIN itself staying exchange-free while the skewed bucket's
    // files stay separate tasks
    val q = "SELECT /*+ MERGE(f) */ f.id, f.v, d.w " +
      "FROM graft.db.spjs_fact f JOIN graft.db.spjs_dim d ON f.id = d.id"
    def run(partial: Boolean): (String, Seq[(Long, Long, Long)]) =  {
      var out: (String, Seq[(Long, Long, Long)]) = null
      withConfs(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" ->
          partial.toString,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val df = spark.sql(q)
        out = (executedPlanString(df),
          df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            .toSeq.sorted)
      }
      out
    }
    val (planOff, rowsOff) = run(partial = false)
    val (planOn, rowsOn) = run(partial = true)
    assert(!planOff.contains("Exchange"), s"shuffle without partial clustering:\n$planOff")
    assert(!planOn.contains("Exchange"), s"shuffle with partial clustering:\n$planOn")
    assert(planOn.contains("SortMergeJoin"), s"expected SPJ merge join:\n$planOn")
    assert(rowsOn === rowsOff, "partially-clustered SPJ changed the answer")
    // the hot key joins 300 fact rows x 1 dim row (w = 0)
    assert(rowsOn.count(r => r._1 == 0L) === 300)
    spark.sql("DROP TABLE graft.db.spjs_fact")
    spark.sql("DROP TABLE graft.db.spjs_dim")
  }

  test("DPP composes with SPJ end-to-end: emptied buckets execute as empty partitions") {
    // the one composition the unit tests only plan: a storage-partitioned
    // MERGE join carrying a DPP subquery (reuseBroadcastOnly off — no
    // broadcast exists to reuse under SPJ), whose runtime IN empties
    // entire buckets; those keys must still EXECUTE as empty partitions
    // or BatchScanExec rejects the filtered partitioning outright
    def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    spark.sql("DROP TABLE IF EXISTS graft.db.spjdpp_fact")
    spark.sql("DROP TABLE IF EXISTS graft.db.spjdpp_dim")
    spark.sql("CREATE TABLE graft.db.spjdpp_fact (id BIGINT, v BIGINT) " +
      "USING graft PARTITIONED BY (bucket(8, id))")
    spark.sql("CREATE TABLE graft.db.spjdpp_dim (id BIGINT, w STRING) " +
      "USING graft PARTITIONED BY (bucket(8, id))")
    // two ordered waves: within each bucket, file ranges are disjoint
    for (lo <- Seq(0L, 2000L))
      spark.range(lo, lo + 2000).select(col("id"), (col("id") * 3).as("v"))
        .writeTo("graft.db.spjdpp_fact").append()
    spark.range(0, 4000).select(col("id"), concat(lit("w"), col("id")).as("w"))
      .writeTo("graft.db.spjdpp_dim").append()
    import spark.implicits._
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false") {
      // the dim side's filter keeps exactly TWO ids: most buckets prune
      // to zero files on the fact side at execution
      val df = spark.sql(
        """SELECT /*+ MERGE(f) */ f.id, f.v, d.w
          |FROM graft.db.spjdpp_fact f JOIN graft.db.spjdpp_dim d ON f.id = d.id
          |WHERE d.w IN ('w7', 'w3905')""".stripMargin)
      val plan = executedPlanString(df)
      assert(plan.contains("SortMergeJoin"), s"expected SPJ merge join:\n$plan")
      assert(!plan.contains("Exchange"), s"shuffle in SPJ+DPP plan:\n$plan")
      assert(plan.contains("dynamicpruning"), s"no runtime filter under SPJ:\n$plan")
      assert(df.as[(Long, Long, String)].collect().toSet ===
        Set((7L, 21L, "w7"), (3905L, 11715L, "w3905")))
    }
    spark.sql("DROP TABLE graft.db.spjdpp_fact")
    spark.sql("DROP TABLE graft.db.spjdpp_dim")
  }

  test("composite-key SPJ via hybrid layout: (bucket(8, ent), day) with no shuffle") {
    // fact tables keyed on (entity, day): the upstream-compatible SPJ
    // encoding is the Iceberg-style MULTI-TRANSFORM layout — bucket the
    // entity, identity-split the day — because Spark's
    // KeyGroupedPartitioning support gate requires one child reference
    // per transform expression (a single multi-column bucket(n, a, b)
    // can never convert; see the sibling test below). Each file holds
    // one (bucket, day) tuple; the scan re-derives the day from the
    // file's exact stats and reports the multi-key grouping.
    def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    spark.sql("DROP TABLE IF EXISTS graft.db.spjh_fact")
    spark.sql("DROP TABLE IF EXISTS graft.db.spjh_dim")
    spark.sql("CREATE TABLE graft.db.spjh_fact (ent BIGINT, day INT, v BIGINT) " +
      "USING graft PARTITIONED BY (bucket(8, ent), day)")
    spark.sql("CREATE TABLE graft.db.spjh_dim (ent BIGINT, day INT, w STRING) " +
      "USING graft PARTITIONED BY (bucket(8, ent), day)")
    spark.range(0, 3000)
      .select((col("id") % 500).as("ent"), (col("id") % 6).cast("int").as("day"),
        (col("id") * 3).as("v"))
      .writeTo("graft.db.spjh_fact").append()
    spark.range(0, 1500)
      .select((col("id") % 500).as("ent"), (col("id") % 3).cast("int").as("day"),
        concat(lit("w"), col("id")).as("w"))
      .writeTo("graft.db.spjh_dim").append()
    val q = "SELECT f.ent, f.day, f.v, d.w FROM graft.db.spjh_fact f " +
      "JOIN graft.db.spjh_dim d ON f.ent = d.ent AND f.day = d.day"
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long, String)] =
      df.as[(Long, Int, Long, String)].collect().toSet
    val expected = {
      val fact = (0L until 3000L).map(i => (i % 500, (i % 6).toInt, i * 3))
      val dim = (0L until 1500L).map(i => (i % 500, (i % 3).toInt, s"w$i"))
      for {
        (fe, fd, v) <- fact.toSet
        (de, dd, w) <- dim if de == fe && dd == fd
      } yield (fe, fd, v, w)
    }
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = executedPlanString(df)
      assert(!plan.contains("Exchange"), s"shuffle in hybrid SPJ plan:\n$plan")
      assert(plan.contains("KeyGrouped(bucket(8, ent), day)"),
        s"scan did not report the hybrid layout:\n$plan")
      // dim holds days 0-2, fact 0-5: the sides have DIFFERENT tuple
      // sets and still align (partially-clustered push-part-values)
      assert(rows(df) === expected)
    }
    // degradation control: bucketing off → ordinary shuffle, same rows
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      assert(executedPlanString(df).contains("Exchange"))
      assert(rows(df) === expected)
    }
    spark.sql("DROP TABLE graft.db.spjh_fact")
    spark.sql("DROP TABLE graft.db.spjh_dim")
  }

  test("bucket+time hybrid SPJ: (bucket(4, ent), days(ts)) with no shuffle") {
    // the Iceberg fact-table layout for time-series joins: bucket the
    // entity, split files per UTC day of the raw timestamp. The scan
    // re-derives each file's day from truncated EXACT stats and reports
    // KeyGroupedPartitioning(bucket(4, ent), days(ts)) through the
    // catalog's V2 time function (same UTC arithmetic on both paths),
    // so an (ent, ts) equi-join plans with zero Exchange.
    def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    spark.sql("DROP TABLE IF EXISTS graft.db.spjt_fact")
    spark.sql("DROP TABLE IF EXISTS graft.db.spjt_dim")
    spark.sql("CREATE TABLE graft.db.spjt_fact (ent BIGINT, ts TIMESTAMP, v BIGINT) " +
      "USING graft PARTITIONED BY (bucket(4, ent), days(ts))")
    spark.sql("CREATE TABLE graft.db.spjt_dim (ent BIGINT, ts TIMESTAMP, w STRING) " +
      "USING graft PARTITIONED BY (bucket(4, ent), days(ts))")
    // ts: day (id % 3) at an intra-day offset that still truncates to
    // the same UTC day — files must hold ONE day, not one instant
    def tsExpr = expr("timestamp_seconds(86400 * CAST(id % 3 AS LONG) + 3600 * CAST(id % 7 AS LONG))")
    spark.range(0, 1200)
      .select((col("id") % 100).as("ent"), tsExpr.as("ts"), (col("id") * 3).as("v"))
      .writeTo("graft.db.spjt_fact").append()
    spark.range(0, 1200)
      .select((col("id") % 100).as("ent"), tsExpr.as("ts"),
        concat(lit("w"), col("id")).as("w"))
      .writeTo("graft.db.spjt_dim").append()
    val q = "SELECT f.ent, f.v, d.w FROM graft.db.spjt_fact f " +
      "JOIN graft.db.spjt_dim d ON f.ent = d.ent AND f.ts = d.ts"
    val expected = {
      def key(i: Long) = (i % 100, 86400 * (i % 3) + 3600 * (i % 7))
      val fact = (0L until 1200L).map(i => (key(i), i * 3))
      val dim = (0L until 1200L).map(i => (key(i), s"w$i"))
      for {
        (fk, v) <- fact.toSet
        (dk, w) <- dim if dk == fk
      } yield (fk._1, v, w)
    }
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = executedPlanString(df)
      assert(!plan.contains("Exchange"), s"shuffle in time-hybrid SPJ plan:\n$plan")
      assert(plan.contains("KeyGrouped(bucket(4, ent), days(ts))"),
        s"scan did not report the time-hybrid layout:\n$plan")
      assert(df.as[(Long, Long, String)].collect().toSet === expected)
    }
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      assert(executedPlanString(df).contains("Exchange"))
      assert(df.as[(Long, Long, String)].collect().toSet === expected)
    }
    spark.sql("DROP TABLE graft.db.spjt_fact")
    spark.sql("DROP TABLE graft.db.spjt_dim")
  }

  test("hybrid SPJ layout survives deletion vectors and row-level DML") {
    // the two round-12 features compose: a hybrid (bucket, day) fact
    // table keeps its multi-key grouping while carrying DVs (positions
    // filter per file; neither the bucket nor the day of a row can
    // change), and DML rewrites route their output back through the
    // hybrid writer so the layout survives the lifecycle
    def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    spark.sql("DROP TABLE IF EXISTS graft.db.hdv_fact")
    spark.sql("DROP TABLE IF EXISTS graft.db.hdv_dim")
    spark.sql("CREATE TABLE graft.db.hdv_fact (ent BIGINT, day INT, v BIGINT) " +
      "USING graft PARTITIONED BY (bucket(4, ent), day) " +
      "TBLPROPERTIES ('graft.dv.enabled'='true')")
    spark.sql("CREATE TABLE graft.db.hdv_dim (ent BIGINT, day INT, w STRING) " +
      "USING graft PARTITIONED BY (bucket(4, ent), day)")
    spark.range(0, 1200)
      .select((col("id") % 200).as("ent"), (col("id") % 3).cast("int").as("day"),
        (col("id") * 3).as("v"))
      .writeTo("graft.db.hdv_fact").append()
    spark.range(0, 600)
      .select((col("id") % 200).as("ent"), (col("id") % 3).cast("int").as("day"),
        concat(lit("w"), col("id")).as("w"))
      .writeTo("graft.db.hdv_dim").append()
    // DV delete + CoW-routed update: the rewrite lands hybrid-routed
    spark.sql("DELETE FROM graft.db.hdv_fact WHERE ent = 7")
    val root = spark.conf.get("spark.sql.catalog.graft.warehouse") + "/db/hdv_fact"
    val t = graft.tables.SnapshotTable(spark, root)
    // hybrid writes flatten their dynamic sub-dirs under UNIQUE names:
    // several engine invariants (DV sidecars, update carry lists) key
    // by file NAME, and the writer otherwise reuses one part-file name
    // across every value dir of a job — collisions silently cross-apply
    // deletions between sibling files
    val names = t.manifest().map(p => new org.apache.hadoop.fs.Path(p).getName)
    assert(names.distinct.size === names.size,
      s"file-name collision in hybrid manifest: $names")
    assert(t.dvManifest().nonEmpty, "delete did not land as a deletion vector")
    assert(t.head().bucketLayout
      === Some((4, Seq("ent"), Seq("day"))))
    val q = "SELECT f.ent, f.day, f.v, d.w FROM graft.db.hdv_fact f " +
      "JOIN graft.db.hdv_dim d ON f.ent = d.ent AND f.day = d.day"
    val expected = {
      val fact = (0L until 1200L).map(i => (i % 200, (i % 3).toInt, i * 3))
        .filterNot(_._1 == 7L)
      val dim = (0L until 600L).map(i => (i % 200, (i % 3).toInt, s"w$i"))
      for {
        (fe, fd, v) <- fact.toSet
        (de, dd, w) <- dim if de == fe && dd == fd
      } yield (fe, fd, v, w)
    }
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = executedPlanString(df)
      assert(!plan.contains("Exchange"), s"shuffle in DV'd hybrid SPJ plan:\n$plan")
      assert(plan.contains("KeyGrouped(bucket(4, ent), day)") &&
        plan.contains("DvFiltered"), s"missing layout or DV filter:\n$plan")
      assert(df.as[(Long, Int, Long, String)].collect().toSet === expected)
    }
    // purge folds the DVs; compact + update keep the layout reportable
    t.purgeDeletionVectors()
    assert(t.head().bucketLayout
      === Some((4, Seq("ent"), Seq("day"))))
    t.update(col("ent") === 11L, Map("v" -> lit(0L)))
    assert(t.head().bucketLayout
      === Some((4, Seq("ent"), Seq("day"))),
      "CoW update lost the hybrid layout")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      assert(!executedPlanString(df).contains("Exchange"))
      val expected2 = expected.map { case (e, d, v, w) =>
        (e, d, if (e == 11L) 0L else v, w) }
      assert(df.as[(Long, Int, Long, String)].collect().toSet === expected2)
    }
    spark.sql("DROP TABLE graft.db.hdv_fact")
    spark.sql("DROP TABLE graft.db.hdv_dim")
  }

  test("multi-column bucket(8, a, b): consistent routing, honest degradation") {
    // bucket(n, a, b) IS a valid layout (co-location + bounded file
    // counts; both sides route by the same chained murmur3), and the
    // scan reports it — but stock Spark's KeyGroupedPartitioning
    // support gate (one child reference per transform expression)
    // rejects the multi-child conversion, so the join keeps its
    // shuffle. Pinned here so an upstream change that lifts the gate
    // shows up as this assertion failing (then remove the Exchange
    // expectation and enjoy the free SPJ). The zero-Exchange encoding
    // of a composite key today is the hybrid spec in the test above.
    def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    spark.sql("DROP TABLE IF EXISTS graft.db.spj2_fact")
    spark.sql("DROP TABLE IF EXISTS graft.db.spj2_dim")
    spark.sql("CREATE TABLE graft.db.spj2_fact (ent BIGINT, day INT, v BIGINT) " +
      "USING graft PARTITIONED BY (bucket(8, ent, day))")
    spark.sql("CREATE TABLE graft.db.spj2_dim (ent BIGINT, day INT, w STRING) " +
      "USING graft PARTITIONED BY (bucket(8, ent, day))")
    spark.range(0, 2000)
      .select((col("id") % 400).as("ent"), (col("id") % 5).cast("int").as("day"),
        (col("id") * 3).as("v"))
      .writeTo("graft.db.spj2_fact").append()
    spark.range(0, 1000)
      .select((col("id") % 400).as("ent"), (col("id") % 5).cast("int").as("day"),
        concat(lit("w"), col("id")).as("w"))
      .writeTo("graft.db.spj2_dim").append()
    // identical (ent, day) pairs land in the SAME bucket id on both
    // tables — the routing parity that makes the layout meaningful
    val fb = spark.sql("SELECT DISTINCT ent, day, pmod(hash(ent, day), 8) AS b " +
      "FROM graft.db.spj2_fact")
    val factBuckets = graft.tables.SnapshotTable(spark,
      spark.conf.get("spark.sql.catalog.graft.warehouse") + "/db/spj2_fact")
      .filesMetadata().select("bucket").distinct().as[Long].collect().toSet
    assert(factBuckets.forall(b => b >= 0 && b < 8), factBuckets.toString)
    val q = "SELECT f.ent, f.day, f.v, d.w FROM graft.db.spj2_fact f " +
      "JOIN graft.db.spj2_dim d ON f.ent = d.ent AND f.day = d.day"
    val expected = {
      val fact = (0L until 2000L).map(i => (i % 400, (i % 5).toInt, i * 3))
      val dim = (0L until 1000L).map(i => (i % 400, (i % 5).toInt, s"w$i"))
      for {
        (fe, fd, v) <- fact.toSet
        (de, dd, w) <- dim if de == fe && dd == fd
      } yield (fe, fd, v, w)
    }
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = executedPlanString(df)
      assert(plan.contains("KeyGrouped(bucket(8, ent, day))"),
        s"scan did not report the composite layout:\n$plan")
      assert(plan.contains("Exchange"),
        "stock Spark now converts multi-child transform expressions — " +
          s"lift the degradation pin and claim the free SPJ:\n$plan")
      assert(df.as[(Long, Int, Long, String)].collect().toSet === expected)
    }
    fb.count() // keep the routing probe evaluated
    spark.sql("DROP TABLE graft.db.spj2_fact")
    spark.sql("DROP TABLE graft.db.spj2_dim")
  }

  test("storage-partitioned join survives deletion vectors (DV-filtered scan)") {
    // a long-lived bucketed fact table carries DVs in steady state; the
    // scan must keep reporting KeyGroupedPartitioning (deletes never move
    // rows between buckets) while its readers drop the sidecar positions
    // — previously the catalog REFUSED DV'd snapshots and the join repaid
    // both shuffles after the first row-level delete
    def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    spark.sql("DROP TABLE IF EXISTS graft.db.spjdv_fact")
    spark.sql("DROP TABLE IF EXISTS graft.db.spjdv_dim")
    spark.sql("CREATE TABLE graft.db.spjdv_fact (id BIGINT, v BIGINT) " +
      "USING graft PARTITIONED BY (bucket(8, id)) " +
      "TBLPROPERTIES ('graft.dv.enabled'='true')")
    spark.sql("CREATE TABLE graft.db.spjdv_dim (id BIGINT, w STRING) " +
      "USING graft PARTITIONED BY (bucket(8, id))")
    spark.range(0, 4000).select(col("id"), (col("id") * 3).as("v"))
      .writeTo("graft.db.spjdv_fact").append()
    spark.range(0, 1000).select(col("id"), concat(lit("w"), col("id")).as("w"))
      .writeTo("graft.db.spjdv_dim").append()
    // two DV commits (two sidecars): deleted fraction per file stays
    // under graft.dv.maxFraction so no file rewrites — pure DV overlay
    spark.sql("DELETE FROM graft.db.spjdv_fact WHERE id % 10 = 3")
    spark.sql("DELETE FROM graft.db.spjdv_fact WHERE id = 4")
    val q = "SELECT f.id, f.v, d.w FROM graft.db.spjdv_fact f " +
      "JOIN graft.db.spjdv_dim d ON f.id = d.id"
    val expected = (0L until 1000L)
      .filterNot(i => i % 10 == 3 || i == 4)
      .map(i => (i, i * 3, s"w$i")).toSet
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = executedPlanString(df)
      assert(!plan.contains("Exchange"), s"shuffle in DV'd SPJ plan:\n$plan")
      assert(plan.contains("KeyGrouped(bucket(8, id))"),
        s"DV'd scan did not report the bucket layout:\n$plan")
      assert(plan.contains("DvFiltered"),
        s"scan is not DV-filtered (deleted rows would resurrect):\n$plan")
      assert(df.as[(Long, Long, String)].collect().toSet === expected)
    }
    // the DV overlay is exact on every catalog read shape, not just SPJ:
    // full scan, pushed filter, and count(*) (zero-column projection —
    // the readers stream just the row index and still drop deletions)
    val live = spark.sql("SELECT id FROM graft.db.spjdv_fact")
      .as[Long].collect().toSet
    assert(live === (0L until 4000L).filterNot(i => i % 10 == 3 || i == 4).toSet)
    assert(spark.sql("SELECT id FROM graft.db.spjdv_fact WHERE id = 13")
      .collect().isEmpty)
    assert(spark.sql("SELECT count(*) AS c FROM graft.db.spjdv_fact")
      .as[Long].head() === 4000L - 400L - 1L)
    spark.sql("DROP TABLE graft.db.spjdv_fact")
    spark.sql("DROP TABLE graft.db.spjdv_dim")
  }

  test("runtime filtering (DPP): a selective dim filter prunes the fact scan at execution") {
    // the 100 TB fact-dim join optimization: the dim side's filter
    // reaches the FACT scan as a runtime IN over its join keys
    // (SupportsRuntimeV2Filtering), and whole manifest files drop
    // before they are read — files here carry disjoint id ranges
    // (two ordered appends), so the single surviving key kills most
    spark.sql("DROP TABLE IF EXISTS graft.db.dpp_fact")
    spark.sql("CREATE TABLE graft.db.dpp_fact (id BIGINT, v BIGINT) USING graft")
    spark.range(0, 2000).select(col("id"), (col("id") * 3).as("v"))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .writeTo("graft.db.dpp_fact").append()
    spark.range(2000, 4000).select(col("id"), (col("id") * 3).as("v"))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .writeTo("graft.db.dpp_fact").append()
    import spark.implicits._
    // the dim must be a FILE relation: an in-memory LocalRelation folds
    // its filter away at optimization and DPP sees nothing selective
    val dimPath = tmpDir("dppdim")
    (0L until 100L).map(i => (i, s"w$i")).toDF("id", "w")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dpp_dim")
    val df = spark.sql(
      """SELECT f.id, f.v, d.w FROM graft.db.dpp_fact f
        |JOIN dpp_dim d ON f.id = d.id WHERE d.w = 'w7'""".stripMargin)
    val plan = executedPlanString(df)
    assert(plan.contains("dynamicpruning"),
      s"no runtime filter reached the fact scan:\n$plan")
    assert(df.as[(Long, Long, String)].collect().toSeq === Seq((7L, 21L, "w7")))
    spark.sql("DROP TABLE graft.db.dpp_fact")
  }

  test("SupportsRuntimeV2Filtering: IN prunes manifest files; key-grouped scans keep groups") {
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead}
    import org.apache.spark.sql.connector.expressions.{Expressions, Expression => V2Expr}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.connector.read.{Scan, SupportsRuntimeV2Filtering}
    import org.apache.spark.sql.graftshim.SparkInternals
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    def buildScan(db: String, name: String): Scan =
      SparkInternals.catalogPlugin(spark, "graft").get
        .asInstanceOf[graft.sql.GraftTableCatalog]
        .loadTable(Identifier.of(Array(db), name))
        .asInstanceOf[SupportsRead]
        .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    def fileCount(s: Scan): Int =
      s.toBatch.planInputPartitions().toSeq.flatMap(p =>
        SparkInternals.filePartitionFiles(p).map(_.map(_._1)).getOrElse(Nil))
        .distinct.size
    def inPred(ids: Long*): Predicate = new Predicate("IN",
      (Expressions.column("id") +: ids.map(i => Expressions.literal(Long.box(i))))
        .toArray[V2Expr])

    // plain (non-bucketed) table: files from two ordered appends carry
    // disjoint id ranges; IN(7) must keep only the file whose range holds 7
    spark.sql("DROP TABLE IF EXISTS graft.db.rtp_flat")
    spark.sql("CREATE TABLE graft.db.rtp_flat (id BIGINT, v BIGINT) USING graft")
    for (lo <- Seq(0L, 2000L))
      spark.range(lo, lo + 2000).select(col("id"), (col("id") * 3).as("v"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .writeTo("graft.db.rtp_flat").append()
    val flat = buildScan("db", "rtp_flat")
    val rfFlat = flat.asInstanceOf[SupportsRuntimeV2Filtering]
    assert(rfFlat.filterAttributes().map(_.describe()).contains("id"))
    val flatBefore = fileCount(flat)
    assert(flatBefore >= 8, s"expected >=8 files, got $flatBefore")
    rfFlat.filter(Array(inPred(7L)))
    val flatAfter = fileCount(flat)
    assert(flatAfter === 1, s"IN(7) should keep exactly the one range file, kept $flatAfter")

    // bucketed table under the SPJ conf: pruning narrows files WITHIN
    // groups and never drops a group — BatchScanExec requires runtime
    // filtering to preserve a KeyGroupedPartitioning's distinct keys
    spark.sql("DROP TABLE IF EXISTS graft.db.rtp_bucket")
    spark.sql("CREATE TABLE graft.db.rtp_bucket (id BIGINT, v BIGINT) " +
      "USING graft PARTITIONED BY (bucket(8, id))")
    for (lo <- Seq(0L, 2000L))
      spark.range(lo, lo + 2000).select(col("id"), (col("id") * 3).as("v"))
        .writeTo("graft.db.rtp_bucket").append()
    val prev = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val bucketed = buildScan("db", "rtp_bucket")
      assert(bucketed.isInstanceOf[graft.sql.KeyGroupedFileScan],
        s"bucketed scan did not report its layout: ${bucketed.description()}")
      def distinctKeys(s: Scan): Int = s.toBatch.planInputPartitions().toSeq
        .map(_.asInstanceOf[org.apache.spark.sql.connector.read.HasPartitionKey]
          .partitionKey().getInt(0)).distinct.size
      val keysBefore = distinctKeys(bucketed)
      val filesBefore = fileCount(bucketed)
      assert(filesBefore === 16, s"expected 16 bucket files, got $filesBefore")
      bucketed.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(inPred(7L)))
      assert(distinctKeys(bucketed) === keysBefore,
        "runtime filtering must preserve the key-grouped DISTINCT key set")
      val filesAfter = fileCount(bucketed)
      // every second-append file (ids >= 2000) is range-disproven for 7
      assert(filesAfter <= filesBefore / 2,
        s"expected the second append's files pruned: $filesBefore -> $filesAfter")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
      case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
    spark.sql("DROP TABLE graft.db.rtp_flat")
    spark.sql("DROP TABLE graft.db.rtp_bucket")
  }

  test("runtime filtering composes with deletion vectors and column mapping") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft.db.rtdv")
    spark.sql("CREATE TABLE graft.db.rtdv (id BIGINT, v BIGINT) USING graft " +
      "TBLPROPERTIES ('graft.dv.enabled'='true')")
    for (lo <- Seq(0L, 2000L))
      spark.range(lo, lo + 2000).select(col("id"), (col("id") * 3).as("v"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .writeTo("graft.db.rtdv").append()
    spark.sql("DELETE FROM graft.db.rtdv WHERE id >= 5 AND id < 8") // DV commit
    val dimPath = tmpDir("rtdvdim")
    (0L until 100L).map(i => (i, s"w$i")).toDF("id", "w")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("rtdv_dim")
    val df = spark.sql(
      """SELECT f.id, f.v, d.w FROM graft.db.rtdv f
        |JOIN rtdv_dim d ON f.id = d.id WHERE d.w IN ('w6', 'w9')""".stripMargin)
    val plan = executedPlanString(df)
    assert(plan.contains("dynamicpruning"), s"no runtime filter over the DV'd scan:\n$plan")
    assert(plan.contains("DvFiltered"), s"DV overlay missing from the scan:\n$plan")
    // id=6 is deleted — the runtime-pruned, DV-filtered scan must drop it
    assert(df.as[(Long, Long, String)].collect().toSeq === Seq((9L, 27L, "w9")))
    // column mapping: RENAME a column, then the same join (logical names)
    spark.sql("ALTER TABLE graft.db.rtdv RENAME COLUMN v TO val")
    val df2 = spark.sql(
      """SELECT f.id, f.val, d.w FROM graft.db.rtdv f
        |JOIN rtdv_dim d ON f.id = d.id WHERE d.w IN ('w6', 'w9')""".stripMargin)
    val plan2 = executedPlanString(df2)
    assert(plan2.contains("dynamicpruning"),
      s"no runtime filter over the column-mapped scan:\n$plan2")
    assert(df2.as[(Long, Long, String)].collect().toSeq === Seq((9L, 27L, "w9")))
    spark.sql("DROP TABLE graft.db.rtdv")
  }

  test("pushed LIMIT caps the manifest files a bare scan opens") {
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead}
    import org.apache.spark.sql.connector.read.{Scan, SupportsPushDownLimit}
    import org.apache.spark.sql.graftshim.SparkInternals
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    def fileCount(s: Scan): Int =
      s.toBatch.planInputPartitions().toSeq.flatMap(p =>
        SparkInternals.filePartitionFiles(p).map(_.map(_._1)).getOrElse(Nil))
        .distinct.size
    spark.sql("DROP TABLE IF EXISTS graft.db.lim_t")
    spark.sql("CREATE TABLE graft.db.lim_t (id BIGINT, v BIGINT) USING graft")
    for (lo <- Seq(0L, 2000L))
      spark.range(lo, lo + 2000).select(col("id"), (col("id") * 3).as("v"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .writeTo("graft.db.lim_t").append()
    val sb = SparkInternals.catalogPlugin(spark, "graft").get
      .asInstanceOf[graft.sql.GraftTableCatalog]
      .loadTable(Identifier.of(Array("db"), "lim_t"))
      .asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty())
    assert(sb.asInstanceOf[SupportsPushDownLimit].pushLimit(10))
    val scan = sb.build()
    assert(fileCount(scan) === 1,
      "LIMIT 10 over 8 files of ~500 rows should open exactly one")
    // e2e through SQL: correct rows, and still exactly `n` of them
    assert(spark.sql("SELECT * FROM graft.db.lim_t LIMIT 10").count() === 10L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM (SELECT id FROM graft.db.lim_t LIMIT 4100) t")
      .head().getLong(0) === 4000L.min(4100L))
    // a filtered query refuses the cap (the limit sits above the filter)
    val sb2 = SparkInternals.catalogPlugin(spark, "graft").get
      .asInstanceOf[graft.sql.GraftTableCatalog]
      .loadTable(Identifier.of(Array("db"), "lim_t"))
      .asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty())
    sb2.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
      .pushFilters(Array(org.apache.spark.sql.sources.GreaterThan("id", 3990L)))
    assert(!sb2.asInstanceOf[SupportsPushDownLimit].pushLimit(10))
    assert(spark.sql("SELECT * FROM graft.db.lim_t WHERE id > 3990 LIMIT 10")
      .count() === 9L)
    // a CONSUMED no-op IsNotNull guard must not kill the cap (ADVICE
    // r14: pushLimit accepted it but buildFileScan still gated on
    // pushed.isEmpty, leaving the promised cap dead)
    val sb3 = SparkInternals.catalogPlugin(spark, "graft").get
      .asInstanceOf[graft.sql.GraftTableCatalog]
      .loadTable(Identifier.of(Array("db"), "lim_t"))
      .asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty())
    val residual = sb3.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
      .pushFilters(Array(org.apache.spark.sql.sources.IsNotNull("id")))
    assert(residual.isEmpty, "provably no-op guard not consumed")
    assert(sb3.asInstanceOf[SupportsPushDownLimit].pushLimit(10))
    assert(fileCount(sb3.build()) === 1,
      "LIMIT 10 under a consumed no-op guard should still cap to one file")
    assert(spark.sql(
      "SELECT * FROM graft.db.lim_t WHERE id IS NOT NULL LIMIT 10").count() === 10L)
    spark.sql("DROP TABLE graft.db.lim_t")
  }

  test("pushed TopN opens only the files that can hold the top n") {
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead}
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownTopN}
    import org.apache.spark.sql.graftshim.SparkInternals
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    def fileCount(s: Scan): Int =
      s.toBatch.planInputPartitions().toSeq.flatMap(p =>
        SparkInternals.filePartitionFiles(p).map(_.map(_._1)).getOrElse(Nil))
        .distinct.size
    def builder(name: String): ScanBuilder =
      SparkInternals.catalogPlugin(spark, "graft").get
        .asInstanceOf[graft.sql.GraftTableCatalog]
        .loadTable(Identifier.of(Array("db"), name))
        .asInstanceOf[SupportsRead]
        .newScanBuilder(CaseInsensitiveStringMap.empty())
    def sortAsc(c: String) = Expressions.sort(Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
    def sortDesc(c: String) = Expressions.sort(Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING)
    spark.sql("DROP TABLE IF EXISTS graft.db.topn_t")
    spark.sql("CREATE TABLE graft.db.topn_t (id BIGINT, v BIGINT) USING graft")
    for (lo <- Seq(0L, 2000L))
      spark.range(lo, lo + 2000).select(col("id"), (col("id") * 3).as("v"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .writeTo("graft.db.topn_t").append()
    // ascending: top-10 smallest ids live in the lowest range file
    val sbA = builder("topn_t")
    assert(sbA.asInstanceOf[SupportsPushDownTopN]
      .pushTopN(Array(sortAsc("id")), 10))
    assert(fileCount(sbA.build()) === 1,
      "ORDER BY id LIMIT 10 over 8 disjoint range files should open one")
    // descending mirrors
    val sbD = builder("topn_t")
    assert(sbD.asInstanceOf[SupportsPushDownTopN]
      .pushTopN(Array(sortDesc("id")), 10))
    assert(fileCount(sbD.build()) === 1)
    // e2e through SQL, both directions — correct rows through the cap
    import spark.implicits._
    assert(spark.sql("SELECT id FROM graft.db.topn_t ORDER BY id LIMIT 5")
      .as[Long].collect().toSeq === (0L until 5L))
    assert(spark.sql("SELECT id FROM graft.db.topn_t ORDER BY id DESC LIMIT 5")
      .as[Long].collect().toSeq === (3999L to 3995L by -1))
    // a null-bearing key never prunes the file holding the nulls (they
    // order FIRST by default and are invisible to min/max stats)
    spark.sql("DROP TABLE IF EXISTS graft.db.topn_n")
    spark.sql("CREATE TABLE graft.db.topn_n (id BIGINT, v BIGINT) USING graft")
    spark.range(0, 2000)
      .select(when(col("id") % 500 === 0, lit(null)).otherwise(col("id")).as("id"),
        (col("id") * 3).as("v"))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .writeTo("graft.db.topn_n").append()
    val first = spark.sql("SELECT id FROM graft.db.topn_n ORDER BY id LIMIT 4")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(first === Seq(None, None, None, None),
      s"NULLS FIRST must survive the TopN cap, got $first")
    spark.sql("DROP TABLE graft.db.topn_t")
    spark.sql("DROP TABLE graft.db.topn_n")
  }

  test("q129's executed plan carries the runtime IN filter on the fact scan") {
    val df = SparkEntry.queries("q129_dpp_join")(spark, dir)
    val plan = executedPlanString(df)
    assert(plan.contains("dynamicpruning"),
      s"q129's fact scan lost its runtime filter:\n$plan")
    assert(plan.contains("RuntimePrunable"),
      s"q129's fact side is not the runtime-prunable catalog scan:\n$plan")
  }

  test("q131's executed plan runtime-filters the key-grouped fact scan") {
    val df = SparkEntry.queries("q131_dpp_bucketed")(spark, dir)
    val plan = executedPlanString(df)
    assert(plan.contains("dynamicpruning"),
      s"q131's bucketed fact scan lost its runtime filter:\n$plan")
    assert(plan.contains("KeyGrouped(bucket(8, o_custkey))"),
      s"q131's fact is not the key-grouped catalog scan:\n$plan")
  }

  test("metadata-only GROUP BY over provably single-valued partition columns") {
    // the Iceberg partitions-metadata-table query served from the
    // manifest: group keys that every file proves single-valued (hybrid
    // layouts put one value per file) aggregate with ZERO data files read
    spark.sql("DROP TABLE IF EXISTS graft.db.mgb")
    spark.sql("CREATE TABLE graft.db.mgb (ent BIGINT, day INT, v BIGINT) " +
      "USING graft PARTITIONED BY (bucket(4, ent), day)")
    spark.range(0, 3000).select(col("id").as("ent"),
        (col("id") % 3).cast("int").as("day"), (col("id") * 7).as("v"))
      .writeTo("graft.db.mgb").append()
    val df = spark.sql(
      "SELECT day, count(*) AS n, max(v) AS mx FROM graft.db.mgb " +
        "GROUP BY day ORDER BY day")
    val plan = executedPlanString(df)
    assert(plan.contains("GraftMetadataAgg"),
      s"group-by did not answer from the manifest:\n$plan")
    assert(!plan.contains("ParquetScan"), s"data files read:\n$plan")
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((0, 1000L, 2997L * 7), (1, 1000L, 2998L * 7), (2, 1000L, 2999L * 7)))
    // refusal: a group key no file proves single-valued → ordinary scan,
    // identical answer
    val df2 = spark.sql(
      "SELECT ent, count(*) AS n FROM graft.db.mgb GROUP BY ent")
    assert(!executedPlanString(df2).contains("GraftMetadataAgg"))
    assert(df2.count() === 3000L)
    // and a pending DV refuses (counts would overcount)
    spark.sql("ALTER TABLE graft.db.mgb SET TBLPROPERTIES ('graft.dv.enabled'='true')")
    spark.sql("DELETE FROM graft.db.mgb WHERE ent < 30")
    val df3 = spark.sql(
      "SELECT day, count(*) AS n FROM graft.db.mgb GROUP BY day ORDER BY day")
    assert(!executedPlanString(df3).contains("GraftMetadataAgg"))
    assert(df3.collect().map(_.getLong(1)).sum === 2970L)
    spark.sql("DROP TABLE graft.db.mgb")
  }

  /** Drops every `"exact":true` stats flag from a table's commit log —
   *  simulates a pre-flag log / adopted files whose string bounds
   *  cannot be proven verbatim. Consumers must DEGRADE (shuffle plan,
   *  ordinary scan), never serve a possibly-truncated bound. */
  private def stripExactFlags(root: String): Unit = {
    val logDir = java.nio.file.Paths.get(root, "_log")
    java.nio.file.Files.list(logDir)
      .filter(_.toString.endsWith(".json"))
      .forEach { p =>
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        java.nio.file.Files.write(p,
          s.replace(",\"exact\":true", "").getBytes("UTF-8"))
      }
  }

  test("string identity sub-partition SPJ needs the writer-exact flag") {
    // (bucket(4, ent), tag STRING) — the Iceberg identity(string)
    // layout (the reference's contact-by-state shape). Our writer's
    // untruncated string bounds are verbatim values, so each file's tag
    // proves single-valued and the composite layout reports; a log
    // without the flag (pre-flag table, adopted files) must un-report —
    // truncated footer bounds could let two different strings share a
    // fabricated tuple, a silent wrong-join-answer.
    def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val rootF = tmpDir("tbl_spjs_f"); val rootD = tmpDir("tbl_spjs_d")
    spark.sql("DROP TABLE IF EXISTS graft.db.spjs_f")
    spark.sql("DROP TABLE IF EXISTS graft.db.spjs_d")
    spark.sql("CREATE TABLE graft.db.spjs_f (ent BIGINT, tag STRING, v BIGINT) " +
      s"USING graft PARTITIONED BY (bucket(4, ent), tag) LOCATION '$rootF'")
    spark.sql("CREATE TABLE graft.db.spjs_d (ent BIGINT, tag STRING, w BIGINT) " +
      s"USING graft PARTITIONED BY (bucket(4, ent), tag) LOCATION '$rootD'")
    val tags = org.apache.spark.sql.functions.element_at(
      org.apache.spark.sql.functions.array(lit("aa"), lit("bb"), lit("cc")),
      (col("id") % 3 + 1).cast("int"))
    spark.range(0, 900).select((col("id") % 100).as("ent"), tags.as("tag"),
        (col("id") * 3).as("v"))
      .writeTo("graft.db.spjs_f").append()
    spark.range(0, 300).select((col("id") % 100).as("ent"), tags.as("tag"),
        (col("id") * 7).as("w"))
      .writeTo("graft.db.spjs_d").append()
    val q = "SELECT f.ent, f.tag, f.v, d.w FROM graft.db.spjs_f f " +
      "JOIN graft.db.spjs_d d ON f.ent = d.ent AND f.tag = d.tag"
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = executedPlanString(df)
      assert(!plan.contains("Exchange"), s"shuffle in string-hybrid SPJ plan:\n$plan")
      assert(plan.contains("KeyGrouped(bucket(4, ent), tag)"),
        s"scan did not report the string-hybrid layout:\n$plan")
      val n = df.count()
      // same rows through the shuffle plan: strip the exact flags (the
      // pre-flag/adopted log) — the layout must silently un-report
      stripExactFlags(rootF); stripExactFlags(rootD)
      val df2 = spark.sql(q)
      val plan2 = executedPlanString(df2)
      assert(plan2.contains("Exchange"),
        s"unflagged string bounds still reported the layout:\n$plan2")
      assert(df2.count() === n)
    }
    spark.sql("DROP TABLE graft.db.spjs_f")
    spark.sql("DROP TABLE graft.db.spjs_d")
  }

  test("metadata GROUP BY and MIN/MAX over strings need the writer-exact flag") {
    val root = tmpDir("tbl_msg")
    spark.sql("DROP TABLE IF EXISTS graft.db.msg")
    spark.sql("CREATE TABLE graft.db.msg (ent BIGINT, tag STRING, st STRING, v BIGINT) " +
      s"USING graft PARTITIONED BY (bucket(4, ent), tag) LOCATION '$root'")
    val tags = org.apache.spark.sql.functions.element_at(
      org.apache.spark.sql.functions.array(lit("aa"), lit("bb"), lit("cc")),
      (col("id") % 3 + 1).cast("int"))
    val sts = org.apache.spark.sql.functions.element_at(
      org.apache.spark.sql.functions.array(lit("F"), lit("O"), lit("P")),
      (col("id") % 3 + 1).cast("int"))
    spark.range(0, 900).select((col("id") % 100).as("ent"), tags.as("tag"),
        sts.as("st"), (col("id") * 3).as("v"))
      .writeTo("graft.db.msg").append()
    val q = "SELECT tag, count(*) AS n, min(st) AS mn, max(st) AS mx " +
      "FROM graft.db.msg GROUP BY tag ORDER BY tag"
    val df = spark.sql(q)
    val plan = executedPlanString(df)
    assert(plan.contains("GraftMetadataAgg"),
      s"string group-by did not answer from the manifest:\n$plan")
    assert(!plan.contains("ParquetScan"), s"data files read:\n$plan")
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq
    assert(got === Seq(("aa", 300L, "F", "F"), ("bb", 300L, "O", "O"),
      ("cc", 300L, "P", "P")))
    // r15: GLOBAL string min/max collapses via the Catalyst rule under
    // the same writer-exact gate
    val gq = "SELECT min(st) AS mn, max(st) AS mx FROM graft.db.msg"
    val dg = spark.sql(gq)
    assert(executedPlanString(dg).contains("LocalTableScan"),
      s"exact-flagged global string bounds did not collapse:\n${executedPlanString(dg)}")
    assert(dg.collect().map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("F", "P")))
    // pre-flag/adopted log: refuse the manifest serve, identical rows
    stripExactFlags(root)
    val df2 = spark.sql(q)
    assert(!executedPlanString(df2).contains("GraftMetadataAgg"),
      "unflagged string bounds still served the metadata aggregate")
    assert(df2.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq === got)
    val dg2 = spark.sql(gq)
    assert(!executedPlanString(dg2).contains("LocalTableScan"),
      "unflagged string bounds still collapsed the global min/max")
    assert(dg2.collect().map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("F", "P")))
    spark.sql("DROP TABLE graft.db.msg")
  }

  test("TopN cap over a string sort key uses writer-exact bounds only") {
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead}
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownTopN}
    import org.apache.spark.sql.graftshim.SparkInternals
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    def fileCount(s: Scan): Int =
      s.toBatch.planInputPartitions().toSeq.flatMap(p =>
        SparkInternals.filePartitionFiles(p).map(_.map(_._1)).getOrElse(Nil))
        .distinct.size
    def builder(name: String): ScanBuilder =
      SparkInternals.catalogPlugin(spark, "graft").get
        .asInstanceOf[graft.sql.GraftTableCatalog]
        .loadTable(Identifier.of(Array("db"), name))
        .asInstanceOf[SupportsRead]
        .newScanBuilder(CaseInsensitiveStringMap.empty())
    def sortAsc(c: String) = Expressions.sort(Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
    val root = tmpDir("tbl_topns")
    spark.sql("DROP TABLE IF EXISTS graft.db.topns")
    spark.sql("CREATE TABLE graft.db.topns (k STRING, v BIGINT) USING graft " +
      s"LOCATION '$root'")
    spark.range(0, 4000)
      .select(format_string("k%05d", col("id")).as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .writeTo("graft.db.topns").append()
    val sb = builder("topns")
    assert(sb.asInstanceOf[SupportsPushDownTopN].pushTopN(Array(sortAsc("k")), 10))
    assert(fileCount(sb.build()) === 1,
      "ORDER BY string LIMIT 10 over 8 disjoint range files should open one")
    import spark.implicits._
    assert(spark.sql("SELECT k FROM graft.db.topns ORDER BY k LIMIT 5")
      .as[String].collect().toSeq === (0 until 5).map(i => f"k$i%05d"))
    // pre-flag/adopted bounds: the cap keeps every file (conservative,
    // no pruning) and the answer is unchanged
    stripExactFlags(root)
    val sb2 = builder("topns")
    assert(sb2.asInstanceOf[SupportsPushDownTopN].pushTopN(Array(sortAsc("k")), 10))
    assert(fileCount(sb2.build()) === 8,
      "unflagged string bounds must not prune TopN files")
    assert(spark.sql("SELECT k FROM graft.db.topns ORDER BY k LIMIT 5")
      .as[String].collect().toSeq === (0 until 5).map(i => f"k$i%05d"))
    spark.sql("DROP TABLE graft.db.topns")
  }

  test("q133's executed plan joins exchange-free on the string hybrid layout") {
    val df = SparkEntry.queries("q133_spj_string_hybrid")(spark, dir)
    val plan = executedPlanString(df)
    assert(plan.contains("KeyGrouped(bucket(8, o_custkey), oprio)"),
      s"q133 scan did not report the string-hybrid layout:\n$plan")
    // the only exchange is the final ORDER BY's range partitioning —
    // the join itself is storage-partitioned
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q133's join shuffled:\n$plan")
  }

  test("q134's executed plan answers the string group-by from the manifest") {
    val df = SparkEntry.queries("q134_meta_string_groupby")(spark, dir)
    val plan = executedPlanString(df)
    assert(plan.contains("GraftMetadataAgg"),
      s"q134 read data files for a manifest-answerable group-by:\n$plan")
    assert(!plan.contains("ParquetScan"), s"data files in q134's plan:\n$plan")
  }

  test("metadata GROUP BY over time transforms: trunc-proof, UTC-gated") {
    spark.sql("DROP TABLE IF EXISTS graft.db.txg")
    spark.sql("CREATE TABLE graft.db.txg (ent BIGINT, ts TIMESTAMP, v BIGINT) " +
      "USING graft PARTITIONED BY (bucket(4, ent), months(ts))")
    spark.range(0, 900)
      .select(col("id").as("ent"),
        to_timestamp(concat(lit("2024-0"), (col("id") % 3 + 1).cast("string"),
          lit("-15 12:00:00"))).as("ts"),
        (col("id") * 3).as("v"))
      .writeTo("graft.db.txg").append()
    val q = "SELECT month(ts) AS m, count(*) AS n FROM graft.db.txg " +
      "GROUP BY month(ts) ORDER BY m"
    val df = spark.sql(q)
    val plan = executedPlanString(df)
    assert(plan.contains("GraftMetadataAgg"),
      s"month(ts) group-by did not answer from the manifest:\n$plan")
    assert(!plan.contains("ParquetScan"), s"data files read:\n$plan")
    assert(df.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ===
      Seq((1, 300L), (2, 300L), (3, 300L)))
    // YEAR nails at a coarser granularity than the months(ts) split —
    // still provable per file
    val dfY = spark.sql("SELECT year(ts) AS y, count(*) AS n " +
      "FROM graft.db.txg GROUP BY year(ts)")
    assert(executedPlanString(dfY).contains("GraftMetadataAgg"))
    assert(dfY.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ===
      Seq((2024, 900L)))
    // DAY nails FINER than the split proves: trunc(min,day) !=
    // trunc(max,day) inside a month file → refusal, ordinary scan,
    // same answer (all rows are the 15th here, but the file cannot
    // PROVE it from month-grain disjointness — conservative)
    val dfD = spark.sql("SELECT day(ts) AS d, count(*) AS n " +
      "FROM graft.db.txg GROUP BY day(ts)")
    assert(!executedPlanString(dfD).contains("GraftMetadataAgg") ||
      dfD.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((15, 900L)))
    assert(dfD.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ===
      Seq((15, 900L)))
    // non-UTC session: the CAST(ts AS date) inside the pushed EXTRACT
    // is zone-dependent — must refuse the manifest serve and stay
    // correct through the ordinary scan
    val tzKey = "spark.sql.session.timeZone"
    val prevTz = spark.conf.get(tzKey)
    spark.conf.set(tzKey, "America/New_York")
    try {
      val df2 = spark.sql(q)
      assert(!executedPlanString(df2).contains("GraftMetadataAgg"),
        "zone-dependent extract served from the UTC manifest calendar")
      // NY is behind UTC: the noon-UTC timestamps stay in-month, rows agree
      assert(df2.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ===
        Seq((1, 300L), (2, 300L), (3, 300L)))
    } finally spark.conf.set(tzKey, prevTz)
    spark.sql("DROP TABLE graft.db.txg")
    // a table whose files SPAN months refuses (nothing provable)
    spark.sql("DROP TABLE IF EXISTS graft.db.txp")
    spark.sql("CREATE TABLE graft.db.txp (ent BIGINT, ts TIMESTAMP) USING graft")
    spark.range(0, 900)
      .select(col("id").as("ent"),
        to_timestamp(concat(lit("2024-0"), (col("id") % 3 + 1).cast("string"),
          lit("-15 12:00:00"))).as("ts"))
      .coalesce(2)
      .writeTo("graft.db.txp").append()
    val df3 = spark.sql("SELECT month(ts) AS m, count(*) AS n " +
      "FROM graft.db.txp GROUP BY month(ts) ORDER BY m")
    assert(!executedPlanString(df3).contains("GraftMetadataAgg"))
    assert(df3.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ===
      Seq((1, 300L), (2, 300L), (3, 300L)))
    spark.sql("DROP TABLE graft.db.txp")
  }

  test("GROUP BY date_trunc serves metadata-only: trunc-proof, UTC-gated") {
    // the idiomatic spelling — Spark's V2ExpressionBuilder never pushes
    // date_trunc, so this is served by the Catalyst-level MetadataOnlyAgg
    // grouped case (collapses to a LocalRelation), not the DSv2 layer
    spark.sql("DROP TABLE IF EXISTS graft.db.txdt")
    spark.sql("CREATE TABLE graft.db.txdt (ent BIGINT, ts TIMESTAMP, v BIGINT) " +
      "USING graft PARTITIONED BY (months(ts))")
    spark.range(0, 900)
      .select(col("id").as("ent"),
        to_timestamp(concat(lit("2024-0"), (col("id") % 3 + 1).cast("string"),
          lit("-"), (col("id") % 10 + 10).cast("string"),
          lit(" 12:00:00"))).as("ts"),
        (col("id") * 3).as("v"))
      .writeTo("graft.db.txdt").append()
    def ms(s: String): Long = java.time.Instant.parse(s).toEpochMilli
    val q = "SELECT date_trunc('MONTH', ts) AS m, count(*) AS n " +
      "FROM graft.db.txdt GROUP BY date_trunc('MONTH', ts) ORDER BY m"
    val df = spark.sql(q)
    val plan = executedPlanString(df)
    assert(plan.contains("LocalTableScan"),
      s"date_trunc group-by did not collapse to the manifest answer:\n$plan")
    assert(!plan.contains("ParquetScan") && !plan.contains("Scan parquet"),
      s"data files read:\n$plan")
    assert(df.collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSeq ===
      Seq((ms("2024-01-01T00:00:00Z"), 300L), (ms("2024-02-01T00:00:00Z"), 300L),
        (ms("2024-03-01T00:00:00Z"), 300L)))
    // QUARTER reconstructs from the months proof (Jan/Feb/Mar → one Q1 group)
    val dfQ = spark.sql("SELECT date_trunc('QUARTER', ts) AS qt, count(*) AS n " +
      "FROM graft.db.txdt GROUP BY date_trunc('QUARTER', ts)")
    assert(executedPlanString(dfQ).contains("LocalTableScan"))
    assert(dfQ.collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSeq ===
      Seq((ms("2024-01-01T00:00:00Z"), 900L)))
    // group key + manifest-answerable min/max in one shape
    val dfM = spark.sql("SELECT date_trunc('YEAR', ts) AS y, count(*) AS n, " +
      "min(v) AS lo, max(v) AS hi FROM graft.db.txdt GROUP BY date_trunc('YEAR', ts)")
    assert(executedPlanString(dfM).contains("LocalTableScan"))
    assert(dfM.collect().map(r =>
      (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ===
      Seq((ms("2024-01-01T00:00:00Z"), 900L, 0L, 2697L)))
    // display-cast group key (CAST(key AS STRING), what users actually
    // SELECT): CollapseProject folds the cast into the aggregate output;
    // it is a deterministic function of the key, evaluated per group on
    // the driver — the serve must survive it
    val dfS = spark.sql("SELECT CAST(date_trunc('MONTH', ts) AS STRING) AS m, " +
      "count(*) AS n FROM graft.db.txdt GROUP BY date_trunc('MONTH', ts) ORDER BY m")
    assert(executedPlanString(dfS).contains("LocalTableScan"),
      "cast-wrapped date_trunc key lost the metadata serve")
    assert(dfS.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("2024-01-01 00:00:00", 300L), ("2024-02-01 00:00:00", 300L),
        ("2024-03-01 00:00:00", 300L)))
    // DAY nails finer than the month files can prove (days 10-19 per
    // file) → refusal, ordinary scan, correct answer
    val dfD = spark.sql("SELECT date_trunc('DAY', ts) AS d, count(*) AS n " +
      "FROM graft.db.txdt GROUP BY date_trunc('DAY', ts)")
    assert(!executedPlanString(dfD).contains("LocalTableScan"),
      "day-grain trunc served from month-grain files")
    val dRows = dfD.collect()
    assert(dRows.length === 30 && dRows.map(_.getLong(1)).sum === 900L)
    // non-UTC session: zoned date_trunc truncates in the session zone,
    // the manifest calendar is UTC — must refuse and stay correct
    val tzKey = "spark.sql.session.timeZone"
    val prevTz = spark.conf.get(tzKey)
    spark.conf.set(tzKey, "America/New_York")
    try {
      val df2 = spark.sql(q)
      assert(!executedPlanString(df2).contains("LocalTableScan"),
        "zone-dependent date_trunc served from the UTC manifest calendar")
      assert(df2.collect().map(_.getLong(1)).toSeq === Seq(300L, 300L, 300L))
    } finally spark.conf.set(tzKey, prevTz)
    spark.sql("DROP TABLE graft.db.txdt")
    // TIMESTAMP_NTZ: Spark's date_trunc wraps the column in a
    // session-zone CAST(ts AS TIMESTAMP) — zone-DEPENDENT semantics.
    // The UTC cast is a micros no-op (unwrapped, serves); any other
    // zone must refuse and stay correct through the scan.
    spark.sql("DROP TABLE IF EXISTS graft.db.txnz")
    spark.sql("CREATE TABLE graft.db.txnz (ent BIGINT, ts TIMESTAMP_NTZ) " +
      "USING graft PARTITIONED BY (months(ts))")
    spark.range(0, 300)
      .select(col("id").as("ent"),
        to_timestamp(concat(lit("2024-0"), (col("id") % 3 + 1).cast("string"),
          lit("-15 12:00:00"))).cast("timestamp_ntz").as("ts"))
      .writeTo("graft.db.txnz").append()
    val qN = "SELECT date_trunc('MONTH', ts) AS m, count(*) AS n " +
      "FROM graft.db.txnz GROUP BY date_trunc('MONTH', ts) ORDER BY m"
    val dfN = spark.sql(qN)
    assert(executedPlanString(dfN).contains("LocalTableScan"),
      "NTZ date_trunc under a UTC session is a micros no-op and must serve")
    assert(dfN.collect().map(_.getLong(1)).toSeq === Seq(100L, 100L, 100L))
    spark.conf.set(tzKey, "America/New_York")
    try {
      val dfN2 = spark.sql(qN)
      assert(!executedPlanString(dfN2).contains("LocalTableScan"),
        "session-zone NTZ cast served from the UTC manifest calendar")
      assert(dfN2.collect().map(_.getLong(1)).toSeq === Seq(100L, 100L, 100L))
    } finally spark.conf.set(tzKey, prevTz)
    spark.sql("DROP TABLE graft.db.txnz")
  }

  test("q135's executed plan answers the time-transform group-by from the manifest") {
    val df = SparkEntry.queries("q135_meta_time_groupby")(spark, dir)
    val plan = executedPlanString(df)
    assert(plan.contains("GraftMetadataAgg"),
      s"q135 read data files for a manifest-answerable group-by:\n$plan")
    assert(!plan.contains("ParquetScan"), s"data files in q135's plan:\n$plan")
  }

  test("date_trunc / date-cast filters rewrite to sargable ts ranges") {
    spark.sql("DROP TABLE IF EXISTS graft.db.sgt")
    spark.sql("CREATE TABLE graft.db.sgt (id BIGINT, ts TIMESTAMP) " +
      "USING graft PARTITIONED BY (days(ts))")
    spark.range(0, 900)
      .select(col("id"),
        to_timestamp(concat(lit("2024-01-"), (col("id") % 10 + 10).cast("string"),
          lit(" 12:00:00"))).as("ts"))
      .writeTo("graft.db.sgt").append()
    // every probe carries a sum(id): a bare count/min/max over a
    // whole-file-provable filter now serves METADATA-ONLY (the r15
    // filtered serve), and these pins are about the FILTER REWRITE in
    // the scan plan — the unanswerable sum keeps the scan alive
    // the idiomatic day filter: must push as a ts range and prune to the
    // one day file (stats pruning serves the rewritten range)
    val q = "SELECT count(*) AS n, sum(id) AS s FROM graft.db.sgt " +
      "WHERE date_trunc('DAY', ts) = TIMESTAMP'2024-01-12 00:00:00'"
    val df = spark.sql(q)
    val plan = executedPlanString(df)
    assert(plan.contains(">= 2024-01-12 00:00:00") &&
      plan.contains("< 2024-01-13 00:00:00"),
      s"date_trunc equality did not rewrite to a pushed ts range:\n$plan")
    assert(df.head().getLong(0) === 90L)
    // the date-cast spelling
    val dfC = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graft.db.sgt " +
      "WHERE CAST(ts AS DATE) = DATE'2024-01-13'")
    assert(executedPlanString(dfC).contains(">= 2024-01-13 00:00:00"))
    assert(dfC.head().getLong(0) === 90L)
    // inequalities: trunc(ts) >= an UNALIGNED literal must ceil to the
    // next boundary (days 14.. → 6 days of rows)
    val dfG = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graft.db.sgt " +
      "WHERE date_trunc('DAY', ts) >= TIMESTAMP'2024-01-13 07:00:00'")
    assert(dfG.head().getLong(0) === 6 * 90L)
    // unaligned equality is an empty range — false, never a wrong row
    val dfU = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graft.db.sgt " +
      "WHERE date_trunc('DAY', ts) = TIMESTAMP'2024-01-12 10:30:00'")
    assert(dfU.head().getLong(0) === 0L)
    // IN-list of day starts
    val dfI = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graft.db.sgt " +
      "WHERE date_trunc('DAY', ts) IN (TIMESTAMP'2024-01-10 00:00:00', " +
      "TIMESTAMP'2024-01-19 00:00:00')")
    assert(dfI.head().getLong(0) === 180L)
    // year(ts): the one contiguous extract — rewrites to the year range
    val dfY = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graft.db.sgt " +
      "WHERE year(ts) = 2024")
    assert(executedPlanString(dfY).contains(">= 2024-01-01 00:00:00"),
      s"year() equality did not rewrite:\n${executedPlanString(dfY)}")
    assert(dfY.head().getLong(0) === 900L)
    assert(spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graft.db.sgt " +
      "WHERE year(ts) < 2024").head().getLong(0) === 0L)
    // year(ts) IN (…) — each member its own year range (r14 verdict #4)
    val dfYI = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graft.db.sgt " +
      "WHERE year(ts) IN (2023, 2024)")
    assert(executedPlanString(dfYI).contains(">= 2023-01-01 00:00:00"),
      s"year() IN did not rewrite:\n${executedPlanString(dfYI)}")
    assert(dfYI.head().getLong(0) === 900L)
    assert(spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graft.db.sgt " +
      "WHERE year(ts) IN (2022, 2023)").head().getLong(0) === 0L)
    // to_date(ts) = DATE'…': RuntimeReplaceable lands it as the date
    // cast by optimizer time, so the existing cast case serves it — pin
    val dfTD = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graft.db.sgt " +
      "WHERE to_date(ts) = DATE'2024-01-13'")
    assert(executedPlanString(dfTD).contains(">= 2024-01-13 00:00:00"),
      s"to_date equality did not reach the cast rewrite:\n${executedPlanString(dfTD)}")
    assert(dfTD.head().getLong(0) === 90L)
    // date_format(ts,'yyyy-MM-dd') = '…' — the string spelling
    // (equality only: string order is not chronological beyond 4-digit
    // years). Soundness rests on Spark printing PROLEPTIC years — a BCE
    // timestamp must not format to a signless 4-digit date a CE literal
    // could equal; assert that property here, where the rewrite's gate
    // can see it fail if a Spark upgrade changes formatter semantics.
    val bce = spark.sql(
      "SELECT date_format(TIMESTAMP'-0044-03-15 00:00:00', 'yyyy-MM-dd')")
      .head().getString(0)
    assert(!bce.matches("^\\d{4}-\\d{2}-\\d{2}$"),
      s"BCE year formats signless ('$bce') — the date_format rewrite is unsound")
    val dfF = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graft.db.sgt " +
      "WHERE date_format(ts, 'yyyy-MM-dd') = '2024-01-12'")
    assert(executedPlanString(dfF).contains(">= 2024-01-12 00:00:00"),
      s"date_format equality did not rewrite:\n${executedPlanString(dfF)}")
    assert(dfF.head().getLong(0) === 90L)
    // non-canonical literal: the formatter can never produce it for
    // 4-digit years, but the predicate stays UNREWRITTEN (sound either
    // way; rewriting to an empty range would need the BCE-free proof)
    val dfNC = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graft.db.sgt " +
      "WHERE date_format(ts, 'yyyy-MM-dd') = '2024-1-12'")
    assert(executedPlanString(dfNC).contains("date_format"),
      "non-canonical date string rewrote")
    assert(dfNC.head().getLong(0) === 0L)
    // a >= on the string spelling must NOT rewrite (not chronological)
    assert(executedPlanString(spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graft.db.sgt " +
      "WHERE date_format(ts, 'yyyy-MM-dd') >= '2024-01-12'")).contains("date_format"),
      "string-order comparison rewrote to a ts range")
    // zone NORMALIZATION: Etc/UTC is semantically UTC — the rewrite must
    // survive it (ADVICE r14: raw string compare dropped it)
    val tzKey0 = "spark.sql.session.timeZone"
    val prevTz0 = spark.conf.get(tzKey0)
    spark.conf.set(tzKey0, "Etc/UTC")
    try {
      val dfE = spark.sql(q)
      assert(executedPlanString(dfE).contains(">= 2024-01-12 00:00:00"),
        s"Etc/UTC session lost the sargable rewrite:\n${executedPlanString(dfE)}")
      assert(dfE.head().getLong(0) === 90L)
    } finally spark.conf.set(tzKey0, prevTz0)
    // graft_scan_stats must report the SAME prune the executed scan
    // enjoys for the idiomatic spelling (r14 verdict #6): 1 of 10 day
    // files kept
    val tvf = spark.sql("SELECT files_total, files_kept FROM graft_scan_stats(" +
      "'graft.db.sgt', \"date_trunc('DAY', ts) = TIMESTAMP'2024-01-12 00:00:00'\")")
      .head()
    assert(tvf.getLong(0) === 10L && tvf.getLong(1) === 1L,
      s"graft_scan_stats disagreed with the rewritten scan: $tvf")
    // non-UTC session: the zoned trunc is session-zone-dependent — no
    // rewrite (no pushed ts range), rows still correct via the raw plan
    val tzKey = "spark.sql.session.timeZone"
    val prevTz = spark.conf.get(tzKey)
    spark.conf.set(tzKey, "America/New_York")
    try {
      val dfN = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graft.db.sgt " +
        "WHERE date_trunc('DAY', ts) = TIMESTAMP'2024-01-12 00:00:00'")
      assert(executedPlanString(dfN).contains("date_trunc"),
        "zone-dependent trunc filter rewrote against the UTC calendar")
      // noon-UTC rows are 07:00 NY the same date, so the NY day-trunc of
      // Jan 12's rows equals midnight-NY Jan 12 — 90 rows via the
      // UNREWRITTEN plan (a UTC-calendar rewrite would have read the
      // [05:00Z, 05:00Z+day) range and still found them, but the gate
      // exists for literals near boundaries where the calendars diverge)
      assert(dfN.head().getLong(0) === 90L)
    } finally spark.conf.set(tzKey, prevTz)
    spark.sql("DROP TABLE graft.db.sgt")
  }

  test("q136's group-by leg answers from the manifest; TopN caps its files") {
    val df = SparkEntry.queries("q136_contact_pipeline")(spark, dir)
    val plan = executedPlanString(df)
    // the g CTE (GROUP BY state + string checksum bounds) must be the
    // manifest-served aggregate; the c CTE (iscurrent = 1 counts) and
    // the TopN leg legitimately scan data
    assert(plan.contains("GraftMetadataAgg"),
      s"q136's state group-by read data files:\n$plan")
  }

  test("q137's executed plan collapses the date_trunc group-by to the manifest") {
    val df = SparkEntry.queries("q137_meta_trunc_groupby")(spark, dir)
    val plan = executedPlanString(df)
    assert(plan.contains("LocalTableScan"),
      s"q137 read data files for a manifest-answerable date_trunc group-by:\n$plan")
    assert(!plan.contains("ParquetScan") && !plan.contains("Scan parquet"),
      s"data files in q137's plan:\n$plan")
  }

  test("GROUP BY identity, date_trunc serves metadata-only: mixed keys") {
    // the canonical reporting shape (VERDICT r14 Next #1): identity key
    // proved per-file single-valued (fileSingleValue — writer-exact
    // strings qualify), trunc key proved period-constant; one row per
    // (identity, period) tuple from the manifest alone
    spark.sql("DROP TABLE IF EXISTS graft.db.txmx")
    spark.sql("CREATE TABLE graft.db.txmx (ent BIGINT, st STRING, ts TIMESTAMP, " +
      "v BIGINT) USING graft PARTITIONED BY (bucket(2, ent), st, months(ts))")
    spark.range(0, 900)
      .select(col("id").as("ent"),
        concat(lit("S"), (col("id") % 2).cast("string")).as("st"),
        to_timestamp(concat(lit("2024-0"), (col("id") % 3 + 1).cast("string"),
          lit("-15 12:00:00"))).as("ts"),
        (col("id") * 2).as("v"))
      .writeTo("graft.db.txmx").append()
    def ms(s: String): Long = java.time.Instant.parse(s).toEpochMilli
    val q = "SELECT st, date_trunc('MONTH', ts) AS m, count(*) AS n, " +
      "min(v) AS lo, max(v) AS hi FROM graft.db.txmx " +
      "GROUP BY st, date_trunc('MONTH', ts) ORDER BY st, m"
    val df = spark.sql(q)
    val plan = executedPlanString(df)
    assert(plan.contains("LocalTableScan"),
      s"mixed identity+trunc group-by did not collapse to the manifest:\n$plan")
    assert(!plan.contains("ParquetScan") && !plan.contains("Scan parquet"),
      s"data files read:\n$plan")
    val rows = df.collect().map(r =>
      (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length === 6)
    assert(rows.map(r => (r._1, r._2, r._3)).toSeq === Seq(
      ("S0", ms("2024-01-01T00:00:00Z"), 150L), ("S0", ms("2024-02-01T00:00:00Z"), 150L),
      ("S0", ms("2024-03-01T00:00:00Z"), 150L), ("S1", ms("2024-01-01T00:00:00Z"), 150L),
      ("S1", ms("2024-02-01T00:00:00Z"), 150L), ("S1", ms("2024-03-01T00:00:00Z"), 150L)))
    // cross-check one group's bounds against the scan
    assert(rows.head._4 === 0L && rows.head._5 === 1788L) // S0=even ids, Jan = id%3==0
    // the per-partition report: a STRING equality filter on the
    // single-valued identity column proves all-in/all-out per file
    // (writer-exact bounds), composing with the trunc group-by
    val dfW = spark.sql("SELECT date_trunc('MONTH', ts) AS m, count(*) AS n, " +
      "min(v) AS lo FROM graft.db.txmx WHERE st = 'S1' " +
      "GROUP BY date_trunc('MONTH', ts) ORDER BY m")
    assert(executedPlanString(dfW).contains("LocalTableScan"),
      s"string-filtered trunc group-by did not serve:\n${executedPlanString(dfW)}")
    // S1 = odd ids; per month the smallest odd id with id%3 == m-1 is
    // 3 (Jan), 1 (Feb), 5 (Mar); v = 2*id
    assert(dfW.collect().map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((150L, 6L), (150L, 2L), (150L, 10L)))
    // string IN over the single-valued identity column: per-file
    // membership decides through exact bounds (S1 files in via the S1
    // member, S0 files out of every member)
    val dfSin = spark.sql("SELECT count(*) AS n FROM graft.db.txmx " +
      "WHERE st IN ('S1', 'ZZ')")
    assert(executedPlanString(dfSin).contains("LocalTableScan"),
      s"string IN filter did not serve:\n${executedPlanString(dfSin)}")
    assert(dfSin.head().getLong(0) === 450L)
    // identity-ONLY group keys stay with the DSv2 aggregate pushdown
    // (partially pushed, GraftMetadataAgg scan) — this rule must NOT
    // intercept a shape that is already right
    val dfI = spark.sql("SELECT st, count(*) AS n FROM graft.db.txmx GROUP BY st")
    val planI = executedPlanString(dfI)
    assert(!planI.contains("LocalTableScan"),
      s"identity-only group-by intercepted by the Catalyst serve:\n$planI")
    assert(planI.contains("GraftMetadataAgg"),
      s"identity-only group-by lost its DSv2 manifest serve:\n$planI")
    // a key NO file proves single-valued (v spans a range per file) →
    // refusal, ordinary scan, correct rows
    val dfR = spark.sql("SELECT v, date_trunc('MONTH', ts) AS m, count(*) AS n " +
      "FROM graft.db.txmx GROUP BY v, date_trunc('MONTH', ts)")
    assert(!executedPlanString(dfR).contains("LocalTableScan"),
      "multi-valued identity key served from single-value proofs")
    assert(dfR.collect().map(_.getLong(2)).sum === 900L)
    spark.sql("DROP TABLE graft.db.txmx")
  }

  test("filtered metadata serve: all-in/all-out file proof, straddle refusal") {
    // the canonical time-bounded report: WHERE ts-range GROUP BY
    // date_trunc — served when every file provably passes or fails the
    // filter WHOLE; one possibly-straddling file refuses everything
    spark.sql("DROP TABLE IF EXISTS graft.db.txfr")
    spark.sql("CREATE TABLE graft.db.txfr (ent BIGINT, ts TIMESTAMP, v BIGINT) " +
      "USING graft PARTITIONED BY (days(ts))")
    spark.range(0, 900)
      .select(col("id").as("ent"),
        to_timestamp(concat(lit("2024-01-"), (col("id") % 9 + 10).cast("string"),
          when(col("id") % 2 === 0, lit(" 06:00:00"))
            .otherwise(lit(" 18:00:00")))).as("ts"),
        (col("id") * 3).as("v"))
      .writeTo("graft.db.txfr").append()
    // day files 10..18 (50 rows at 06:00 + 50 at 18:00 each); the
    // [12, 15) window keeps exactly 3 whole files
    val q = "SELECT date_trunc('DAY', ts) AS d, count(*) AS n " +
      "FROM graft.db.txfr " +
      "WHERE date_trunc('DAY', ts) >= TIMESTAMP'2024-01-12 00:00:00' " +
      "AND date_trunc('DAY', ts) < TIMESTAMP'2024-01-15 00:00:00' " +
      "GROUP BY date_trunc('DAY', ts) ORDER BY d"
    val df = spark.sql(q)
    val plan = executedPlanString(df)
    assert(plan.contains("LocalTableScan"),
      s"whole-file-provable filtered group-by did not serve:\n$plan")
    assert(!plan.contains("ParquetScan") && !plan.contains("Scan parquet"),
      s"data files read:\n$plan")
    assert(df.collect().map(_.getLong(1)).toSeq === Seq(100L, 100L, 100L))
    // groupless too: filtered count(*)/min/max folds the accepted files
    val dfC = spark.sql("SELECT count(*) AS n, min(v) AS lo, max(v) AS hi " +
      "FROM graft.db.txfr WHERE ts >= TIMESTAMP'2024-01-12 00:00:00' " +
      "AND ts < TIMESTAMP'2024-01-15 00:00:00'")
    assert(executedPlanString(dfC).contains("LocalTableScan"),
      s"filtered groupless agg did not serve:\n${executedPlanString(dfC)}")
    val r = dfC.head()
    assert(r.getLong(0) === 300L)
    // a MID-FILE bound makes the boundary file straddle (06:00 < bound
    // < 18:00) → refusal, ordinary scan, identical rows
    val dfS = spark.sql("SELECT count(*) AS n FROM graft.db.txfr " +
      "WHERE ts >= TIMESTAMP'2024-01-12 13:00:00'")
    assert(!executedPlanString(dfS).contains("LocalTableScan"),
      "straddling boundary file served from whole-file stats")
    assert(dfS.head().getLong(0) === 650L) // day 12's 18:00 half + days 13..18
    // a filter on a NON-clustered column with interleaved values
    // straddles every file → refusal, correct rows
    val dfV = spark.sql("SELECT count(*) AS n FROM graft.db.txfr WHERE v >= 1350")
    assert(!executedPlanString(dfV).contains("LocalTableScan"))
    assert(dfV.head().getLong(0) === 450L)
    // empty window: zero accepted files is a VALID proof — zero groups
    val dfE = spark.sql("SELECT date_trunc('DAY', ts) AS d, count(*) AS n " +
      "FROM graft.db.txfr WHERE ts >= TIMESTAMP'2025-06-01 00:00:00' " +
      "GROUP BY date_trunc('DAY', ts)")
    assert(executedPlanString(dfE).contains("LocalTableScan"))
    assert(dfE.collect().isEmpty)
    // IN over date_trunc: the sargable rewrite emits an Or of day
    // ranges; the proof tree decides each file through the Or
    val dfIn = spark.sql("SELECT count(*) AS n FROM graft.db.txfr " +
      "WHERE date_trunc('DAY', ts) IN (TIMESTAMP'2024-01-10 00:00:00', " +
      "TIMESTAMP'2024-01-17 00:00:00')")
    assert(executedPlanString(dfIn).contains("LocalTableScan"),
      s"trunc IN-list did not serve:\n${executedPlanString(dfIn)}")
    assert(dfIn.head().getLong(0) === 200L)
    spark.sql("DROP TABLE graft.db.txfr")
  }

  test("filtered serve binds stats per session case sensitivity") {
    // two columns differing only in case (legal under caseSensitive=true):
    // the filter proof must key off the EXACT column's stats — first-match
    // case-insensitive binding would read the sibling's bounds and emit
    // wrong in/out verdicts, i.e. wrong aggregate rows
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      spark.sql("DROP TABLE IF EXISTS graft.db.txcase")
      spark.sql("CREATE TABLE graft.db.txcase (ent BIGINT, V BIGINT, v BIGINT) " +
        "USING graft")
      // per-file: V interleaves (straddles any bound), v is clustered
      spark.range(0, 400)
        .select(col("id").as("ent"), (col("id") % 7).as("V"),
          (col("id") * 10).as("v"))
        .repartitionByRange(4, col("ent")).sortWithinPartitions("ent")
        .writeTo("graft.db.txcase").append()
      // the write itself must pair each committed column with its exact
      // spelling: the aligned frame's stats prove it (v clustered by ent,
      // not V's 0..6 band duplicated into both)
      val loc = spark.conf.get("spark.sql.catalog.graft.warehouse") + "/db/txcase"
      val ents = graft.tables.SnapshotTable(spark, loc).manifestEntries()
      assert(ents.flatMap(_.stats.get("v")).exists(_.max.exists(_.toLong >= 3000)),
        s"write bound 'v' to its case-sibling's values: ${ents.map(_.stats)}")
      val q = "SELECT count(*) AS n FROM graft.db.txcase WHERE v >= 2000"
      val df = spark.sql(q)
      assert(df.head().getLong(0) === 200L, "wrong rows under exact binding")
      // and the lower-case column's clustered stats may serve it
      // metadata-only; binding to V's interleaved bounds could not
      val dfUp = spark.sql("SELECT count(*) AS n FROM graft.db.txcase WHERE V >= 3")
      assert(!executedPlanString(dfUp).contains("LocalTableScan"),
        "interleaved upper-case column served from whole-file stats")
      assert(dfUp.head().getLong(0) === 228L)
      spark.sql("DROP TABLE graft.db.txcase")
    } finally spark.conf.set("spark.sql.caseSensitive", "false")
  }

  test("q140's executed plan serves the filtered group-by from the manifest") {
    val df = SparkEntry.queries("q140_meta_filtered_groupby")(spark, dir)
    val plan = executedPlanString(df)
    assert(plan.contains("LocalTableScan"),
      s"q140 read data files for a whole-file-provable filtered group-by:\n$plan")
    assert(!plan.contains("ParquetScan") && !plan.contains("Scan parquet"),
      s"data files in q140's plan:\n$plan")
  }

  test("q141's executed plan serves count(col) + string bounds from the manifest") {
    val df = SparkEntry.queries("q141_meta_mix_agg")(spark, dir)
    val plan = executedPlanString(df)
    assert(plan.contains("LocalTableScan"),
      s"q141 read data files for a manifest-answerable reporting mix:\n$plan")
    assert(!plan.contains("ParquetScan") && !plan.contains("Scan parquet"),
      s"data files in q141's plan:\n$plan")
  }

  test("q139's executed plan collapses the mixed group-by to the manifest") {
    val df = SparkEntry.queries("q139_meta_mixed_groupby")(spark, dir)
    val plan = executedPlanString(df)
    assert(plan.contains("LocalTableScan"),
      s"q139 read data files for a manifest-answerable mixed group-by:\n$plan")
    assert(!plan.contains("ParquetScan") && !plan.contains("Scan parquet"),
      s"data files in q139's plan:\n$plan")
  }

  test("q132's executed plan answers the group-by from the manifest alone") {
    val df = SparkEntry.queries("q132_meta_groupby")(spark, dir)
    val plan = executedPlanString(df)
    assert(plan.contains("GraftMetadataAgg"),
      s"q132 read data files for a manifest-answerable group-by:\n$plan")
    assert(!plan.contains("ParquetScan"), s"data files in q132's plan:\n$plan")
  }

  test("merge source side with equi-condition plans as a hash join, not NLJ") {
    val t = SnapshotTable.create(spark, tmpDir("plan"),
      spark.range(0, 10000).toDF("id").withColumn("v", lit("x")))
    // discovery join shape: target ⋈ source on equi-key
    val src = spark.range(0, 10).toDF("id").withColumn("v", lit("y"))
    val joined = t.read().alias("t")
      .join(src.alias("s"), col("t.id") === col("s.id"), "inner")
    val plan = executedPlanString(joined)
    assert(plan.contains("HashJoin"), s"expected hash join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"nested-loop join in merge path:\n$plan")
  }
}
