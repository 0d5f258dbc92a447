package graft.sql

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.tables.{CommitLock, SnapshotTable}

/**
 * Durable name→root registry for [[GraftTableCatalog]] — the engine's
 * hive-sync/Glue role (reference `hudi/hudi_scd_script.py:35-40`,
 * `delta/delta_submit.sh:28,31`, `iceberg/iceberg_submit.sh:29-34`): in
 * the reference every commit syncs the table into an external metastore
 * so ANY later session or engine resolves it by NAME, not path. Tables
 * created under the warehouse layout already resolve by name in a fresh
 * session (the catalog derives `<warehouse>/<ns>/<name>` mechanically);
 * this registry covers the tables that DON'T live there — `CREATE TABLE
 * … LOCATION '<external root>'` — which previously resolved only in the
 * session that registered them.
 *
 * Layout: versioned full-state JSON commits under
 * `<warehouse>/_registry/` (`v%020d.json`), claimed through the same
 * commit-slot CAS as table commits ([[CommitLock]]) — concurrent
 * registrations race on the slot, the loser re-reads the head and
 * retries on top of it, so no registration is ever lost. Full state per
 * commit (not a delta log): a registry holds NAMES, thousands at most,
 * so one head read serves every lookup and there is nothing to replay.
 * A torn newest entry (non-local-FS writer mid-publish) falls back to
 * its predecessor, mirroring `SnapshotTable.readable`.
 *
 * Lookup hot path: table resolution consults the registry, so a lookup
 * must not pay an O(#registrations) directory LIST — committers leave
 * an advisory `_latest_hint` and readers existence-probe forward from
 * it (the SnapshotTable hint pattern; never authoritative), and each
 * publish prunes slots older than a fixed fallback window so the log
 * stays O(RetainSlots) forever.
 *
 * Keys are `ns1.ns2….name`, lowercased: SQL identifiers resolve
 * case-insensitively here, matching the warehouse-layout path behavior
 * on case-insensitive filesystems and Spark's default resolver.
 */
object CatalogRegistry {

  private val MaxRetries = 64

  /** Superseded slots retained behind the head: deep enough for the
   *  torn-head fallback and for readers mid-listing while an updater
   *  prunes; old slots hold stale full state nobody can need. */
  private val RetainSlots = 16L

  // Locale.ROOT: the default-locale toLowerCase maps "IDS" to "ıds"
  // under a Turkish JVM locale — a different KEY than an English-locale
  // reader computes, which breaks exactly the cross-JVM resolution this
  // registry exists to provide
  private[sql] def key(parts: Seq[String]): String =
    parts.map(_.toLowerCase(java.util.Locale.ROOT)).mkString(".")

  private def regDir(warehouse: String) = new Path(warehouse, "_registry")
  private def slot(warehouse: String, v: Long) =
    new Path(regDir(warehouse), f"v$v%020d.json")
  private def hintPath(warehouse: String) = new Path(regDir(warehouse), "_latest_hint")

  private def fsOf(spark: SparkSession, warehouse: String): FileSystem =
    regDir(warehouse).getFileSystem(spark.sessionState.newHadoopConf())

  // Advisory latest-version hint (the SnapshotTable pattern): every
  // lookup would otherwise LIST the registry dir — per TABLE RESOLUTION,
  // paginated and slow on object stores once registrations accumulate.
  // Committers leave the version they just published; readers
  // existence-probe forward from it. The hint carries no authority: a
  // stale hint probes forward to the true head, a torn/garbage/ahead
  // hint falls back to the listing — losing every hint write costs
  // performance only.
  private def writeHint(fs: FileSystem, warehouse: String, v: Long): Unit =
    try {
      val out = fs.create(hintPath(warehouse), true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    } catch { case NonFatal(_) => () }

  private def probeLatest(fs: FileSystem, warehouse: String): Option[Long] =
    (try {
      if (!fs.exists(hintPath(warehouse))) None
      else {
        val in = fs.open(hintPath(warehouse))
        val s =
          try {
            val out = new java.io.ByteArrayOutputStream()
            org.apache.hadoop.io.IOUtils.copyBytes(in, out, 64, false)
            out.toString("UTF-8")
          } finally in.close()
        s.trim.toLongOption.filter(_ >= 0)
      }
    } catch { case NonFatal(_) => None }).flatMap { h =>
      if (!fs.exists(slot(warehouse, h))) None // ahead of truth/pruned: re-list
      else {
        var v = h
        while (fs.exists(slot(warehouse, v + 1))) v += 1
        Some(v)
      }
    }

  private def readSlot(fs: FileSystem, p: Path): Map[String, String] = {
    val in = fs.open(p)
    val s =
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
        out.toString("UTF-8")
      } finally in.close()
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.Serialization.read[Map[String, String]](s)
  }

  private def versions(fs: FileSystem, warehouse: String): Seq[Long] = {
    val dir = regDir(warehouse)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d{1,20}\\.json"))
      .flatMap(_.stripPrefix("v").stripSuffix(".json").toLongOption)
      .sorted
  }

  /** Head (version, state) with torn-newest tolerance; (-1, empty) when
   *  no registry exists yet. Hint fast path first — one existence probe
   *  instead of a directory listing on the per-resolution hot path. */
  private def head(fs: FileSystem, warehouse: String): (Long, Map[String, String]) = {
    probeLatest(fs, warehouse) match {
      case Some(last) =>
        try return (last, readSlot(fs, slot(warehouse, last)))
        catch {
          case NonFatal(_) if fs.exists(slot(warehouse, last - 1)) =>
            return (last, readSlot(fs, slot(warehouse, last - 1)))
          case NonFatal(_) => () // no retained predecessor: full listing
        }
      case None => ()
    }
    val vs = versions(fs, warehouse)
    if (vs.isEmpty) return (-1L, Map.empty)
    try (vs.last, readSlot(fs, slot(warehouse, vs.last)))
    catch {
      case NonFatal(e) =>
        if (vs.size >= 2) (vs.last, readSlot(fs, slot(warehouse, vs(vs.size - 2))))
        else throw e
    }
  }

  /** Registered root for `parts`, or None. One head read — no caching:
   *  a registration committed by ANOTHER session/process must be
   *  visible here immediately (the whole point of the registry). */
  def lookup(spark: SparkSession, warehouse: String, parts: Seq[String]): Option[String] =
    head(fsOf(spark, warehouse), warehouse)._2.get(key(parts))

  /** The full current name→root map — ONE head read. Listing-style
   *  consumers filter against this instead of paying one registry read
   *  per candidate name (the N+1 shape the hint exists to avoid). */
  def snapshot(spark: SparkSession, warehouse: String): Map[String, String] =
    head(fsOf(spark, warehouse), warehouse)._2

  /** All registered keys under `namespace` (exact namespace level). */
  def list(spark: SparkSession, warehouse: String, namespace: Seq[String]): Seq[String] = {
    val prefix = if (namespace.isEmpty) "" else key(namespace) + "."
    snapshot(spark, warehouse).keys.toSeq.collect {
      case k if k.startsWith(prefix) && !k.stripPrefix(prefix).contains(".") =>
        k.stripPrefix(prefix)
    }.sorted
  }

  /** `lock` None → the session-wide CommitLock
   *  (`spark.graft.commitLock`, [[SnapshotTable.sessionLock]]) — the
   *  registry CAS rides the same deployment seam as table commits. */
  def register(spark: SparkSession, warehouse: String, parts: Seq[String],
      root: String, lock: Option[CommitLock] = None): Unit =
    update(spark, warehouse,
      lock.getOrElse(SnapshotTable.sessionLock(spark)))(_ + (key(parts) -> root))

  def unregister(spark: SparkSession, warehouse: String, parts: Seq[String],
      lock: Option[CommitLock] = None): Unit =
    update(spark, warehouse,
      lock.getOrElse(SnapshotTable.sessionLock(spark)))(_ - key(parts))

  /** [[head]] for WRITERS: a torn newest slot means a concurrent
   *  non-local-FS writer is mid-publish — committing v+2 on top of the
   *  PREDECESSOR's state would silently drop their registration, so
   *  wait briefly for the content to land before accepting the
   *  fallback (readers never wait; serving the last good state is
   *  their contract). Local-FS publishes are atomic, so this loop only
   *  ever spins on HDFS-like stores. */
  private def headForUpdate(fs: FileSystem, warehouse: String): (Long, Map[String, String]) = {
    var waits = 0
    while (waits < 20) {
      val vs = versions(fs, warehouse)
      if (vs.isEmpty) return (-1L, Map.empty)
      try return (vs.last, readSlot(fs, slot(warehouse, vs.last)))
      catch { case NonFatal(_) => waits += 1; Thread.sleep(25) }
    }
    head(fs, warehouse) // writer gave up waiting: last-good fallback
  }

  /** Read-modify-CAS loop: read the head, apply `f`, publish head+1;
   *  a lost race re-reads and retries on top of the winner — the same
   *  protocol as every table commit, so concurrent registrations from
   *  different sessions/JVMs all land. No-op updates short-circuit
   *  without a commit (re-registering an identical mapping must not
   *  grow the log). */
  private def update(spark: SparkSession, warehouse: String, lock: CommitLock)(
      f: Map[String, String] => Map[String, String]): Unit = {
    val fs = fsOf(spark, warehouse)
    var attempt = 0
    while (true) {
      val (v, state) = headForUpdate(fs, warehouse)
      val next = f(state)
      if (next == state) return
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      val payload = org.json4s.jackson.Serialization.write(next).getBytes("UTF-8")
      fs.mkdirs(regDir(warehouse))
      try {
        lock.publish(fs, slot(warehouse, v + 1),
          new Path(regDir(warehouse), "_tmp"), payload)
        writeHint(fs, warehouse, v + 1)
        // retention: superseded slots carry stale FULL state nobody can
        // need past the fallback window — prune best-effort so the log
        // stays O(RetainSlots) regardless of registration count
        try versions(fs, warehouse).filter(_ <= v + 1 - RetainSlots)
          .foreach(old => fs.delete(slot(warehouse, old), false))
        catch { case NonFatal(_) => () }
        return
      } catch {
        case _: SnapshotTable.ConcurrentCommitException =>
          attempt += 1
          if (attempt >= MaxRetries) throw new SnapshotTable.ConcurrentCommitException(
            s"catalog registry at $warehouse: lost $MaxRetries consecutive " +
              "registration races; giving up")
      }
    }
  }
}
