package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Atomic metadata-pointer flips — the single primitive behind every
  * mutable pointer file in the engine (the path catalog's name → entry
  * binding, [[graft.write.SnapshotTable]]'s CURRENT version pointer,
  * purge's in-place manifest swap). A pointer that is replaced with a
  * delete-then-rename pair opens two failure windows: a concurrent
  * reader observes "missing" between the delete and the rename, and a
  * writer crash in that window leaves the pointer gone until manual
  * repair. This helper closes both with ONE atomic, overwrite-capable
  * rename:
  *
  *  - the staging file is unique PER ATTEMPT (uuid suffix), so two
  *    racing writers never share a temp — a fixed temp name lets one
  *    writer rename the other's half-written bytes into place;
  *  - local filesystems flip via POSIX `rename(2)`
  *    (`Files.move(ATOMIC_MOVE)`), which replaces the destination
  *    atomically; HDFS-class stores flip via `FileContext` +
  *    `Options.Rename.OVERWRITE` (atomic server-side on HDFS). Hadoop's
  *    plain `FileSystem.rename` cannot overwrite, which is what forced
  *    the delete-then-rename pair this replaces;
  *  - schemes with no `AbstractFileSystem` binding fall back to
  *    delete+rename and accept the documented transient-miss window
  *    (last-writer-wins still holds).
  *
  * Writes go through the RAW (non-checksummed) filesystem:
  * `ChecksumFileSystem` shadows every file with a second `.name.crc`
  * file, and two files cannot flip atomically — a reader racing the
  * flip would hit transient checksum mismatches. A stale shadow left by
  * an OLDER (checksummed) writer is best-effort deleted after the flip,
  * so legacy readers still going through the checksummed view never see
  * a mismatch against the new bytes. Readers of flip-managed files need
  * no special handling: a checksummed open without a `.crc` twin reads
  * raw.
  *
  * Object stores (s3/gs/...) have no atomic rename at all — callers
  * that need single-winner semantics there must move the pointer into a
  * conditional-write catalog ([[graft.write.SnapshotTable]]'s scheme
  * probe enforces exactly that). */
object AtomicFlip {

  /** The non-checksummed view of `fs` (identity for already-raw
    * filesystems). Callers that WRITE through [[writeAtomic]] should
    * also read through this view for symmetry, though a checksummed
    * read of a shadow-less file degrades to raw anyway. */
  def raw(fs: FileSystem): FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** Replace `dest`'s contents with `bytes` in one atomic step: a
    * concurrent reader sees either the old bytes or the new bytes in
    * full — never a half-written file, never a transiently-missing one.
    * Creates `dest` (and its parent: `create` makes a missing parent)
    * if absent. */
  def writeAtomic(fs: FileSystem, conf: Configuration, dest: Path,
                  bytes: Array[Byte]): Unit = {
    val rfs = raw(fs)
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = rfs.create(tmp, true)
    try out.write(bytes) finally out.close()
    rename(rfs, conf, tmp, dest)
    // a previous CHECKSUMMED writer left a `.name.crc` twin; the raw
    // flip above just made it stale, and a legacy reader still routing
    // through ChecksumFileSystem would fail the mismatched checksum —
    // remove the shadow (best-effort: its absence is the common case)
    val shadow = new Path(dest.getParent, s".${dest.getName}.crc")
    try { rfs.delete(shadow, false); () }
    catch { case _: java.io.IOException => () }
  }

  /** Publish `bytes` at `dest` atomically AND exclusively: the file
    * appears with its full content in one step (no reader can observe
    * it empty or half-written), and exactly one of N concurrent
    * publishers wins — returns false for the losers (dest already
    * exists). This is the commit-point primitive for immutable metadata
    * (snapshot manifests, tags): a bare `create(overwrite=false)` is
    * exclusive but NOT atomic-with-content — the file is visible and
    * EMPTY between the create and the write, and a concurrent parse of
    * that window reads a torn manifest. Local filesystems publish via
    * `link(2)` (atomic, EEXIST on conflict, content complete); others
    * via rename-without-overwrite (atomic on HDFS, returns false if
    * dest exists) — the same mechanism Iceberg's Hadoop table
    * operations commit metadata files with. */
  def publishExclusive(fs: FileSystem, dest: Path, bytes: Array[Byte]): Boolean = {
    val rfs = raw(fs)
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = rfs.create(tmp, true)
    try out.write(bytes) finally out.close()
    rfs match {
      case _: org.apache.hadoop.fs.RawLocalFileSystem =>
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dest.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp.toUri.getPath))
            false
        }
      case _ =>
        // HDFS-class rename refuses an existing destination atomically;
        // the exists pre-check just avoids burning the rename on an
        // already-lost race (and guards stores whose rename overwrites
        // — those shouldn't reach here, but a cheap check beats a
        // silent double-winner)
        val won = !rfs.exists(dest) && {
          try rfs.rename(tmp, dest)
          catch { case _: java.io.IOException => false }
        }
        if (!won) rfs.delete(tmp, false)
        won
    }
  }

  /** One overwrite-capable rename of `tmp` onto `dest`. */
  private def rename(rfs: FileSystem, conf: Configuration, tmp: Path,
                     dest: Path): Unit = rfs match {
    case _: org.apache.hadoop.fs.RawLocalFileSystem =>
      // POSIX rename(2) replaces the destination atomically; Hadoop's
      // DEFAULT AbstractFileSystem.renameInternal(overwrite) is
      // delete-then-rename (only HDFS overrides it server-side), so
      // FileContext would re-open the window here
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dest.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    case _ =>
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(dest.toUri, conf)
        fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          // no AbstractFileSystem binding for this scheme: fall back to
          // delete+rename and accept a transient-miss window
          // (documented; last-writer-wins still holds)
          rfs.delete(dest, false)
          require(rfs.rename(tmp, dest), s"atomic flip failed for $dest")
      }
  }
}
