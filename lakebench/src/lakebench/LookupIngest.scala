package lakebench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, concat, lit}

import graft.tables.SnapshotTable

/** Read beside write: SQL point lookups on a table of about a thousand
 *  files while small commits land. SQL planning and table metadata (log
 *  parse, stats prune) dominate; every commit is metadata-bound. */
object LookupIngest {
  val Rows = 65536
  val RowsPerFile = 256
  val LookupsPerCommit = 3
  val HitShare = 0.7
  /** Share of lookups issued `VERSION AS OF`, over the newest `Window`
   *  versions: wider than the 8-slot parsed-commit cache, while HEAD
   *  lookups fit in it. The run commits enough history that the window
   *  is full from the first measured lookup. */
  val TimeTravelShare = 0.25
  val Window = 30
  val CacheSlots = 8
  /** Untimed lookup/commit cycles before the measured ones. */
  val WarmCycles = 3
  val RowsPerCommit = 4
  val Kinds = Seq("append", "delete", "update")
  /** Lookups (and their commits) every run measures at least: the same
   *  sample set in every run, and the calls the counts cover. */
  val LookupPrefix = 36
  val CommitPrefix: Int = LookupPrefix / LookupsPerCommit

  /** Versioned driver-side model: the rows each id holds at each version. */
  final class Model(seed: Long, val firstVersion: Long) {
    private val changes = mutable.HashMap[Int, List[(Long, Option[Gen.Contact])]]()
    val live = mutable.ArrayBuffer.tabulate(Rows)(identity)
    private val slot = mutable.HashMap[Int, Int]()
    val deleted = mutable.ArrayBuffer[Int]()
    var nextId: Int = Rows
    var head: Long = firstVersion

    def at(id: Int, v: Long): Option[Gen.Contact] =
      changes.get(id).flatMap(_.find(_._1 <= v)) match {
        case Some((_, row)) => row
        case None => if (id < Rows) Some(Gen.contact(seed, id, 0)) else None
      }
    def set(id: Int, v: Long, row: Option[Gen.Contact]): Unit =
      changes(id) = (v, row) :: changes.getOrElse(id, Nil)

    def removeLive(id: Int): Unit = {
      val i = slot.getOrElse(id, id)
      val last = live.last
      live(i) = last; slot(last) = i
      live.remove(live.size - 1); slot.remove(id)
      deleted += id
    }
    def addLive(id: Int): Unit = { slot(id) = live.size; live += id }
    def pickLive(rng: SplittableRandom, n: Int): Seq[Int] = {
      val s = mutable.LinkedHashSet[Int]()
      while (s.size < n) s += live(rng.nextInt(live.size))
      s.toSeq
    }
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val root = ctx.setup { (d, scale, _) =>
      // the catalog resolves <warehouse>/<namespace>/<table>
      val ns = new java.io.File(d).getName
      val root = s"$warehouse/$ns/contacts"
      val rows = (Rows * scale).toInt
      // one file per RowsPerFile ids: range-partition into a few tasks,
      // sort each, and let the writer roll files (1024 single-file tasks
      // would cost about 3x the set-up time for the same layout)
      spark.conf.set("spark.sql.files.maxRecordsPerFile", RowsPerFile.toString)
      try SnapshotTable.create(spark, root, Gen.contacts(spark, seed, 0, rows)
          .repartitionByRange(math.max(1, rows / RowsPerFile / 64), col("id")).sortWithinPartitions("id"))
        .setProperties(Map("graft.dv.enabled" -> "true"))
      finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
      root
    }.last
    val name = s"lb.${new java.io.File(root).getParentFile.getName}.contacts"
    val table = SnapshotTable(spark, root)
    val model = new Model(seed, table.currentVersion())
    val rng = new SplittableRandom(seed)
    var failed = 0L
    var lookups = 0L
    var commits = 0L
    val planMs, pruneMs, keptFiles, openMs, logBytes = mutable.ArrayBuffer[Double]()
    var prefixTravels, travelsBeyondCache = 0L

    def lookup(counted: Boolean): Unit = {
      val id =
        if (rng.nextDouble() < HitShare) model.live(rng.nextInt(model.live.size))
        else if (model.deleted.nonEmpty && rng.nextBoolean()) model.deleted(rng.nextInt(model.deleted.size))
        else model.nextId + 1000000 + rng.nextInt(1000000)
      val travel = model.head > model.firstVersion && rng.nextDouble() < TimeTravelShare
      val v =
        if (!travel) model.head
        else {
          val lo = math.max(model.firstVersion, model.head - Window)
          lo + rng.nextLong(model.head - lo)
        }
      val sql =
        if (travel) s"SELECT * FROM $name VERSION AS OF $v WHERE id = $id"
        else s"SELECT * FROM $name WHERE id = $id"
      lookups += 1
      if (travel && counted) {
        prefixTravels += 1
        if (v <= model.head - CacheSlots) travelsBeyondCache += 1
      }
      try {
        val (df, rows) = tracer.span("sql", "lookup", if (travel) "timetravel" else "head") {
          val df = spark.sql(sql)
          (df, df.collect())
        }
        val got = rows.map(r => Gen.Contact(r.getInt(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
        if (got != model.at(id, v).toSeq) {
          failed += 1
          System.err.println(s"[lakebench] wrong lookup $sql: $got vs ${model.at(id, v)}")
        }
        if (traced && counted) {
          val phases = df.queryExecution.tracker.phases
          planMs += Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum.toDouble
          val t0 = System.nanoTime()
          val kept = table.prunedManifest(col("id") === id)
          pruneMs += (System.nanoTime() - t0) / 1e6
          keptFiles += kept.size
        }
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[lakebench] lookup $sql failed: $e")
      }
    }

    def commit(n: Long, counted: Boolean, kind: String): Unit = {
      val crng = new SplittableRandom(Gen.mix(seed, n))
      commits += 1
      try {
        val v = model.head + 1
        kind match {
          case "append" =>
            val rows = (model.nextId until model.nextId + RowsPerCommit).map(Gen.contact(seed, _, 0))
            model.nextId += RowsPerCommit
            val df = Gen.contactsOf(spark, rows)
            tracer.span("tables", "commit", kind)(table.append(df))
            rows.foreach { r => model.set(r.id, v, Some(r)); model.addLive(r.id) }
          case "delete" =>
            val ids = model.pickLive(crng, RowsPerCommit)
            tracer.span("tables", "commit", kind)(table.delete(col("id").isin(ids: _*)))
            ids.foreach { id => model.set(id, v, None); model.removeLive(id) }
          case "update" =>
            val ids = model.pickLive(crng, RowsPerCommit)
            tracer.span("tables", "commit", kind)(table.update(col("id").isin(ids: _*),
              Map("state" -> lit(s"U$n"), "email" -> concat(col("email"), lit(s"+u$n")))))
            ids.foreach { id =>
              val r = model.at(id, model.head).get
              model.set(id, v, Some(r.copy(state = s"U$n", email = r.email + s"+u$n")))
            }
        }
        val head = table.currentVersion()
        require(head == v, s"$kind commit published version $head, expected $v")
        model.head = head
        if (traced) {
          val t0 = System.nanoTime()
          SnapshotTable(spark, root).manifestEntries()
          openMs += (System.nanoTime() - t0) / 1e6
          if (counted) logBytes += Ctx.slotBytes(root, head)
        }
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[lakebench] $kind commit $n failed: $e")
      }
    }

    def nextCommit(counted: Boolean): Unit = commit(commits, counted, Kinds((commits % Kinds.size).toInt))

    // history, untimed: with the warm-up's commits, `Window` versions for
    // the first measured time travel to reach back to; all appends (the
    // cheapest commit)
    (0 until Window - WarmCycles).foreach(_ => commit(commits, counted = false, "append"))
    ctx.lap("history")
    // warm-up: JIT, code generation and the parsed-commit cache, untimed
    (0 until WarmCycles * LookupsPerCommit).foreach { i =>
      lookup(counted = false)
      if (i % LookupsPerCommit == LookupsPerCommit - 1) nextCommit(counted = false)
    }
    val firstSpan = tracer.mark
    val warmCommits = commits

    val measured = ctx.loop(minSteps = LookupPrefix) { i =>
      lookup(counted = i < LookupPrefix)
      if (i % LookupsPerCommit == LookupsPerCommit - 1) {
        val n = commits - warmCommits
        nextCommit(counted = n < CommitPrefix)
        if (n == CommitPrefix - 1) {
          ctx.measureStorage(Ctx.storedBytes(root), table.manifestEntries())
        }
      }
    }
    val lookupSpans = tracer.of("lookup").filter(_.id >= firstSpan)
    val commitSpans = tracer.of("commit").filter(_.id >= firstSpan)
    val lookupMs = lookupSpans.map(_.wallMs)
    val commitMs = commitSpans.map(_.wallMs)

    val e2e = Map(
      "op_p50_ms" -> Stats.median(lookupMs),
      "items_per_s" -> lookupSpans.size / measured,
      "commit_p50_ms" -> Stats.median(commitMs))
    ctx.detail("lookup_ms") = Stats.summary(lookupMs)
    ctx.detail("timetravel_lookup_ms") = Stats.summary(lookupSpans.filter(_.name == "timetravel").map(_.wallMs))
    // prefix time-travel lookups at a version older than the newest
    // `CacheSlots`: these parse their log slot unless a lookup shortly
    // before them did
    ctx.detail("prefix_timetravel") = Map("n" -> prefixTravels, "beyond_cache" -> travelsBeyondCache)
    ctx.detail("commit_ms") = Stats.summary(commitMs)
    ctx.detail("versions_at_end") = model.head + 1

    val layers: Map[String, Double] = if (!traced) Map.empty else {
      val jobs = tracer.jobsBySpan()
      def kindMs(k: String) = Stats.median(commitSpans.filter(_.name == k).map(_.wallMs))
      Layers.exec(lookupSpans ++ commitSpans, jobs, Map("lookup" -> LookupPrefix, "commit" -> CommitPrefix)) ++ Map(
          "tables.append_ms" -> kindMs("append"),
          "tables.delete_ms" -> kindMs("delete"),
          "tables.update_ms" -> kindMs("update"),
          "tables.commit_driver_ms" -> Stats.median(commitSpans.map(Layers.driverMs(_, jobs))),
          "tables.log_bytes_per_commit" -> Stats.median(logBytes.toSeq),
          "tables.open_ms" -> Stats.median(openMs.toSeq),
          "tables.prune_ms" -> Stats.median(pruneMs.toSeq),
          "tables.files_kept_per_lookup" -> Stats.mean(keptFiles.toSeq),
          "sql.plan_ms" -> Stats.median(planMs.toSeq),
          "sql.head_lookup_ms" -> Stats.median(lookupSpans.filter(_.name == "head").map(_.wallMs)),
          "sql.timetravel_lookup_ms" -> Stats.median(lookupSpans.filter(_.name == "timetravel").map(_.wallMs)))
    }
    Outcome(lookups + commits, failed, e2e, layers)
  }
}
