package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * The commit-slot CAS primitive behind [[SnapshotTable]]'s optimistic
 * concurrency protocol, isolated so the claim mechanism can be swapped
 * without touching the table layer.
 *
 * Contract: `publish` must claim `dest` EXACTLY ONCE across all
 * concurrent writers (processes and hosts) and make `payload` readable
 * at `dest`; when another writer already claimed the slot it must throw
 * [[SnapshotTable.ConcurrentCommitException]] — the caller re-reads the
 * head and retries its read-compute-commit cycle. Any other failure
 * surfaces as itself (a transient IO error must not masquerade as a
 * lost race, or callers would retry a permanent failure forever).
 *
 * The default [[FileSystemCommitLock]] is filesystem-native:
 *  - local FS: full-content tmp file + `link(2)` — hard-link creation
 *    is EEXCL and atomic, so the claim and the publication are one
 *    operation (proven cross-process by `OccRaceSpec`'s forked-JVM
 *    race);
 *  - HDFS-compatible stores: `create(overwrite = false)` claims the
 *    slot atomically; content becomes visible at close (single writer
 *    per slot, so a reader seeing partial content can only be reading
 *    the torn NEWEST entry, which `readable()` tolerates).
 *
 * NEITHER branch is safe on plain object stores (S3/GCS/ABFS mounted
 * as a Hadoop FileSystem): hard links do not exist there, and
 * `create(overwrite = false)` is not atomic on eventually-listed
 * stores. A production deployment over an object store must supply a
 * CommitLock backed by a conditional put (S3 `If-None-Match`, GCS
 * `ifGenerationMatch`) or an external lock service — the role the
 * reference delegates to its DynamoDB lock manager
 * (`hudi/hudi_scd_script.py:41-48`, `iceberg/iceberg_submit.sh:33-34`).
 * [[LockServiceCommitLock]] implements the lock-service shape of that
 * (lease + fencing token over a [[CommitLockService]]); wire either in
 * per table with [[SnapshotTable.withCommitLock]].
 */
trait CommitLock {

  /** Atomically claim the commit slot `dest` and publish `payload`.
   *  `tmpDir` is a same-filesystem scratch directory the implementation
   *  may use for staged content. Throws
   *  [[SnapshotTable.ConcurrentCommitException]] iff the slot was
   *  already claimed by another writer. */
  def publish(fs: FileSystem, dest: Path, tmpDir: Path, payload: Array[Byte]): Unit
}

/** Default filesystem-native CAS — see [[CommitLock]] for the atomicity
 *  argument per filesystem class and the object-store caveat. */
object FileSystemCommitLock extends CommitLock {

  override def publish(
      fs: FileSystem, dest: Path, tmpDir: Path, payload: Array[Byte]): Unit = {
    val scheme = dest.toUri.getScheme
    if (scheme == null || scheme == "file") {
      // Local FS: full-content tmp file + hard link = atomic claim AND
      // atomic publication (link(2) is EEXCL; rename would overwrite).
      val tmpJ = new java.io.File(tmpDir.toUri.getPath)
      tmpJ.mkdirs()
      val tmp = new java.io.File(tmpJ,
        s"commit-${java.util.UUID.randomUUID().toString.take(12)}.json")
      java.nio.file.Files.write(tmp.toPath, payload)
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dest.toUri.getPath), tmp.toPath)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new SnapshotTable.ConcurrentCommitException(
            s"commit slot $dest was claimed concurrently")
      } finally tmp.delete()
    } else {
      // HDFS-compatible stores: create(overwrite=false) claims the slot
      // atomically; content is visible after close (single-writer-per-slot).
      // only the slot-taken signal means "concurrent commit"; a transient
      // network/permission/quota IOException must surface as itself, or
      // callers retry a permanent failure forever
      val out =
        try fs.create(dest, false)
        catch {
          case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                    _: java.nio.file.FileAlreadyExistsException) =>
            throw new SnapshotTable.ConcurrentCommitException(
              s"commit slot $dest was claimed concurrently", e)
        }
      try out.write(payload) finally out.close()
    }
  }
}
