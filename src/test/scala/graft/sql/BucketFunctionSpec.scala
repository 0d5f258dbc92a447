package graft.sql

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.tables.SnapshotTable

/** The storage-partitioned-join layout rests on ONE hash agreeing across
 *  three evaluation paths: `repartition(n, col)`'s partition index (the
 *  file layout), `ClusterTransform.expr`'s `pmod(hash(col), n)` (the
 *  spec semantics), and [[GraftBucketFunction]]'s `produceResult` (what
 *  Spark evaluates when partially-clustered SPJ pads missing partition
 *  values). A drift in any one silently mis-aligns buckets — wrong join
 *  rows, no error — so the agreement is pinned per key type here, plus
 *  the single-bucket-per-file invariant under randomized specs. */
class BucketFunctionSpec extends SparkSpec {
  import spark.implicits._

  test("produceResult == pmod(hash(col), n) for every supported key type") {
    val n = 13
    def sparkSide(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.select(pmod(hash(col("k")), lit(n))).as[Int].collect().toSeq
    def fnSide(values: Seq[Any], dt: DataType): Seq[Int] = {
      val bound = GraftBucketFunction.bind(new StructType()
        .add("numBuckets", IntegerType).add("k", dt))
        .asInstanceOf[GraftBucketFunction.BoundBucket]
      values.map(v => bound.produceResult(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](n, v))))
    }
    // longs (the common key shape), ints, and strings (UTF8 bytes path)
    val longs = Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue, 123456789L)
    assert(sparkSide(longs.toDF("k")) === fnSide(longs, LongType))
    val ints = Seq(0, 7, -7, Int.MaxValue, Int.MinValue)
    assert(sparkSide(ints.toDF("k")) === fnSide(ints, IntegerType))
    // int vs long MUST differ for equal numeric values — the reason the
    // canonical name is type-qualified (a mixed pairing never aligns)
    assert(fnSide(Seq(42), IntegerType) !== fnSide(Seq(42L), LongType))
    val strs = Seq("", "a", "key-123", "üé中")
    assert(sparkSide(strs.toDF("k")) === fnSide(
      strs.map(org.apache.spark.unsafe.types.UTF8String.fromString), StringType))
    // NULL routes like SQL hash(NULL) = seed
    assert(fnSide(Seq(null), LongType)
      === sparkSide(Seq[Option[Long]](None).toDF("k")))
    // type-qualified canonical names: equal within a type, distinct across
    assert(GraftBucketFunction.BoundBucket(Seq(LongType)).canonicalName()
      === GraftBucketFunction.BoundBucket(Seq(LongType)).canonicalName())
    assert(GraftBucketFunction.BoundBucket(Seq(IntegerType)).canonicalName()
      !== GraftBucketFunction.BoundBucket(Seq(LongType)).canonicalName())
    // composite identity is the ORDERED type list: (long,int) ≠ (long)
    // ≠ (int,long) — a truncated or reordered key must never co-align
    assert(GraftBucketFunction.BoundBucket(Seq(LongType, IntegerType)).canonicalName()
      !== GraftBucketFunction.BoundBucket(Seq(LongType)).canonicalName())
    assert(GraftBucketFunction.BoundBucket(Seq(LongType, IntegerType)).canonicalName()
      !== GraftBucketFunction.BoundBucket(Seq(IntegerType, LongType)).canonicalName())
  }

  test("composite bucket function matches SQL hash(a, b) routing bit-for-bit") {
    import spark.implicits._
    val n = 16
    val data = Seq((0L, 0), (1L, 5), (-1L, 7), (42L, -3),
      (Long.MaxValue, Int.MinValue), (123456789L, 2026))
    // SQL side: pmod(hash(a, b), n) — the exact expression
    // ClusterTransform.expr emits and repartition(n, a, b) routes by
    val sqlSide = data.toDF("a", "b")
      .selectExpr(s"pmod(hash(a, b), $n)").as[Int].collect().toSeq
    val bound = GraftBucketFunction.bind(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n", IntegerType),
      org.apache.spark.sql.types.StructField("a", LongType),
      org.apache.spark.sql.types.StructField("b", IntegerType))))
      .asInstanceOf[GraftBucketFunction.BoundBucket]
    val fnSide = data.map { case (a, b) => bound.produceResult(
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n, a, b)))
    }
    assert(fnSide === sqlSide)
    // NULL in one component leaves the chain unchanged, like SQL hash
    val withNull = data.toDF("a", "b")
      .selectExpr(s"pmod(hash(a, CAST(NULL AS INT)), $n)").as[Int].collect().toSeq
    val fnNull = data.map { case (a, _) => bound.produceResult(
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n, a, null)))
    }
    assert(fnNull === withNull)
  }

  test("randomized specs: every routed file holds exactly its stamped bucket") {
    val rnd = new scala.util.Random(11)
    (1 to 4).foreach { trial =>
      val n = 2 + rnd.nextInt(15)
      val rows = 100 + rnd.nextInt(400)
      val stringKey = rnd.nextBoolean()
      val df =
        if (stringKey) spark.range(0, rows)
          .selectExpr("concat('k', id % 37) AS k", "id AS v")
        else spark.range(0, rows).selectExpr("id % 53 AS k", "id AS v")
      val t = SnapshotTable.create(spark, tmpDir(s"tbl_bprop$trial"), df.limit(1))
      t.setClusterSpec(Seq(s"bucket($n, k)"))
      t.overwrite(df)
      t.append(df.filter(col("v") % 3 === 0))
      val entry = t.commitEntry(t.currentVersion())
      assert(entry.files.nonEmpty && entry.files.forall(_.bucket.isDefined),
        s"trial $trial (n=$n, stringKey=$stringKey): unstamped file")
      entry.files.foreach { f =>
        val got = spark.read.parquet(f.path)
          .select(pmod(hash(col("k")), lit(n))).distinct()
          .as[Int].collect().toSeq
        assert(got === Seq(f.bucket.get),
          s"trial $trial: file stamped ${f.bucket} holds buckets $got")
      }
      assert(t.head().bucketLayout.contains((n, Seq("k"), Nil)))
      // content preserved through the routed write + append
      assert(t.read().count() === rows + df.filter(col("v") % 3 === 0).count())
    }
  }
}
