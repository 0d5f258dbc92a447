package lakebench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.scd2.Scd2
import graft.tables.SnapshotTable

/** The paper's use case: SCD2 incremental loads into a clustered contacts
 *  table, each batch applied by all three reference algorithms, each on
 *  its own table. Execution-bound: every commit rewrites the touched
 *  files. */
object Scd2Batches {
  val Algorithms = Seq("hudi", "iceberg", "delta")
  val InitialRows = 100000
  val Files = 10
  // the reference update_contacts.csv mix (92 changed, 101 new, 907
  // unchanged of 1,100), scaled by 4
  val Changed = 368
  val New = 404
  val Unchanged = 3628
  val BatchRows: Int = Changed + New + Unchanged
  /** Changed and unchanged ids come from the newest tenth of the key
   *  space, so a batch touches a minority of the files. */
  val HotShare = 0.1
  /** Batches every run measures at least (a fixed prefix): the same
   *  sample set in every run, and the batches the counts cover. */
  val Prefix = 3

  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private def loadTs(batch: Int) = new Timestamp(T0.getTime + batch * 86400000L)

  /** Driver-side model of the key space: which ids exist and each id's
   *  current revision. */
  final class Model(seed: Long) {
    var nextId: Int = InitialRows
    val rev = mutable.HashMap[Int, Int]()
    var batches = 0

    def batch(b: Int): Seq[Gen.Contact] = {
      batches += 1
      val rng = new SplittableRandom(Gen.mix(seed, b.toLong))
      val hotFrom = nextId - math.max(Changed + Unchanged, (nextId * HotShare).toInt)
      val picked = mutable.LinkedHashSet[Int]()
      while (picked.size < Changed + Unchanged) picked += hotFrom + rng.nextInt(nextId - hotFrom)
      val (changed, unchanged) = picked.toSeq.splitAt(Changed)
      changed.foreach(id => rev(id) = b)
      val fresh = (nextId until nextId + New)
      nextId += New
      (changed ++ unchanged).map(id => Gen.contact(seed, id, rev.getOrElse(id, 0))) ++
        fresh.map(id => Gen.contact(seed, id, 0))
    }
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    // one timed build per algorithm's table (Ctx.SetupReps of them)
    val tables = ctx.setup { (d, scale, i) =>
      val a = Algorithms(i)
      val staged = Scd2.stage(Gen.contacts(spark, seed, 0, (InitialRows * scale).toInt), T0, withTs = a != "delta")
      a -> SnapshotTable(spark, s"$d/$a").overwriteClustered(staged, Seq("id"), Files)
    }.toMap
    val model = new Model(seed)
    var failed = 0L
    val callsOf = mutable.HashMap[String, Int]().withDefaultValue(0)
    val filesRemoved, filesAdded, rowsWritten, logBytes, openMs = mutable.ArrayBuffer[Double]()

    def merge(a: String, t: SnapshotTable, df: DataFrame, b: Int, counted: Boolean): Unit = {
      val before = if (traced) t.manifestEntries().map(e => e.path -> e.rows).toMap else Map.empty[String, Long]
      try tracer.span("scd2", "merge", a) {
        a match {
          case "hudi" => Scd2.hudiStyleMerge(t, df, loadTs(b), withCounts = false)
          case "iceberg" => Scd2.icebergStyleMerge(t, df, loadTs(b))
          case "delta" => Scd2.deltaStyleMerge(t, df, loadTs(b))
        }
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[lakebench] $a merge of batch $b failed: $e")
      }
      callsOf(a) += 1
      if (traced) {
        val t1 = System.nanoTime()
        val after = SnapshotTable(spark, t.root).manifestEntries()
        openMs += (System.nanoTime() - t1) / 1e6
        if (counted) {
          val afterMap = after.map(e => e.path -> e.rows).toMap
          filesRemoved += before.keySet.diff(afterMap.keySet).size
          val added = afterMap.keySet.diff(before.keySet)
          filesAdded += added.size
          rowsWritten += added.toSeq.map(afterMap).sum.toDouble / BatchRows
          logBytes += Ctx.slotBytes(t.root, t.currentVersion())
        }
      }
    }

    // warm-up batch, untimed: the first merges run while the JIT compiles
    val warm = model.batch(1)
    Algorithms.foreach(a => merge(a, tables(a), Gen.contactsOf(spark, warm), 1, counted = false))
    val firstSpan = tracer.mark

    val measured = ctx.loop(minSteps = Prefix) { i =>
      val b = i + 2
      val df = Gen.contactsOf(spark, model.batch(b))
      tracer.span("scd2", "batch") {
        Algorithms.foreach(a => merge(a, tables(a), df, b, counted = i < Prefix))
      }
      if (i == Prefix - 1) {
        val entries = tables.values.toSeq.flatMap(_.manifestEntries())
        ctx.measureStorage(tables.values.map(t => Ctx.storedBytes(t.root)).sum, entries)
      }
    }
    val merges = tracer.of("merge").filter(_.id >= firstSpan)
    val mergeMs = merges.map(_.wallMs)

    // correctness: one current row per id, carrying the checksum of the
    // id's latest generated revision; one expired row, closed, per changed
    // row of every batch; and the three algorithms hold the same
    // (id, checksum, iscurrent) multiset. The rows, a few hundred thousand
    // short ones, are collected and checked in the driver.
    val wrong = mutable.LinkedHashSet[String]()
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def checksum(c: Gen.Contact): String =
      md5.digest((c.name + c.email + c.state).getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val want = (0 until model.nextId).map(id => checksum(Gen.contact(seed, id, model.rev.getOrElse(id, 0))))
    val expired = Changed.toLong * model.batches
    val keys = tables.map { case (a, t) =>
      val rows = t.read().select(col("id"), col("checksum"), col("iscurrent"), col("valid_to").isNull)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getBoolean(3)))
      val (current, old) = rows.partition(_._3 == 1)
      val ids = current.map(_._1).distinct.length
      val stale = current.count { case (id, c, _, _) => id < 0 || id >= model.nextId || want(id) != c }
      val open = old.count(_._4)
      if (current.length != model.nextId || ids != model.nextId || stale != 0 ||
          old.length != expired || open != 0) {
        wrong += a
        System.err.println(s"[lakebench] $a: ${current.length} current rows over $ids ids " +
          s"(expected ${model.nextId}), $stale with a checksum unlike the generator's, " +
          s"${old.length} expired rows (expected $expired), $open without valid_to")
      }
      a -> rows.map(r => (r._1, r._2, r._3)).groupBy(identity).map { case (k, v) => k -> v.length }
    }
    val disagree = Algorithms.tail.count(a => keys(a) != keys(Algorithms.head))
    if (disagree != 0) {
      wrong ++= Algorithms
      System.err.println(s"[lakebench] $disagree algorithm(s) hold another (id, checksum, iscurrent) " +
        s"multiset than ${Algorithms.head}")
    }
    val attempted = callsOf.values.sum.toLong
    failed += wrong.toSeq.map(callsOf).sum

    val batches = tracer.of("batch").size
    val e2e = Map(
      "op_p50_ms" -> Stats.median(mergeMs),
      "items_per_s" -> batches.toDouble * BatchRows * Algorithms.size / measured,
      "commit_p50_ms" -> Stats.median(mergeMs))
    ctx.detail("merge_ms") = Stats.summary(mergeMs)
    ctx.detail("batch_rows") = BatchRows
    ctx.detail("table_rows_at_end") = model.nextId

    val layers: Map[String, Double] = if (!traced) Map.empty else {
      val jobs = tracer.jobsBySpan()
      val exec = Layers.exec(merges, jobs, Map("merge" -> Prefix * Algorithms.size))
      Algorithms.map(a => s"scd2.${a}_merge_s" -> Stats.median(merges.filter(_.name == a).map(_.wallMs / 1e3))).toMap ++
        exec ++ Map(
          "ops.merge.driver_s" -> Stats.median(merges.map(Layers.driverMs(_, jobs) / 1e3)),
          "ops.merge.jobs" -> exec("exec.merge.jobs"),
          "ops.merge.files_removed" -> Stats.mean(filesRemoved.toSeq),
          "ops.merge.files_added" -> Stats.mean(filesAdded.toSeq),
          "ops.merge.rows_written_per_staged_row" -> Stats.mean(rowsWritten.toSeq),
          "tables.log_bytes_per_commit" -> Stats.median(logBytes.toSeq),
          "tables.open_ms" -> Stats.median(openMs.toSeq))
    }
    Outcome(attempted, failed, e2e, layers)
  }
}
