package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream, IOException}
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, StandardCopyOption}

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, FileSystem, Path}

/** Filesystem helpers: one permission-free listing walk, a shared daemon
  * pool factory, and mutation helpers with a java.nio fast path for `file:`
  * URIs.
  *
  * Without the native Hadoop library (the common container deployment),
  * every `LocalFileSystem.create` forks a `chmod` process (~8 ms) plus a
  * `.crc` sidecar, and every `FileContext.rename` forks `readlink` three
  * times (~27 ms) — measured 100-1000x the cost of the equivalent
  * java.nio call. Commit-heavy plans (appends, compaction, CDC mirrors)
  * spend more wall-clock forking processes than writing bytes. The fast
  * path applies ONLY when the filesystem scheme is `file`; every other
  * scheme (hdfs, s3a, ...) keeps the exact Hadoop code path, so cluster
  * semantics — durability, atomicity, checksums — are unchanged.
  *
  * Local semantics preserved relative to the Hadoop calls they replace:
  *  - create(overwrite=false) throws when the destination exists
  *  - rename returns false when the destination exists or source is gone
  *  - publishExclusive links: of racing publishers exactly one succeeds
  *  - renameOverwrite is a single atomic POSIX rename (strictly stronger
  *    than the exists->delete->rename fallback it replaces)
  *  - stale `.name.crc` sidecars of a bypassed destination are dropped so
  *    a later checksummed read of a pre-existing table cannot mismatch
  */
private[sources] object GraftIO {

  /** The files under directory `dir`, in walk order: its direct entries,
    * and with `recursive` those of every subdirectory too (hidden ones
    * included — callers filter). One `listStatus` per directory; only what
    * a plain status carries (path, kind, length, mtime) is read. This is
    * the walk `FileSystem.listFiles` makes, minus its `LocatedFileStatus`
    * per entry, which loads the entry's permission, owner and group:
    * without the native Hadoop library the local filesystem starts an
    * `ls -ld` process for each (~3 ms apiece), `.tmp` files and
    * directories included. A subdirectory that vanishes mid-walk surfaces
    * as `FileNotFoundException`, as it does from `listFiles`. */
  def listFilesUnder(fs: FileSystem, dir: Path, recursive: Boolean): Seq[FileStatus] = {
    val out = Seq.newBuilder[FileStatus]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isFile) out += st
      else if (recursive) walk(st.getPath)
    }
    walk(dir)
    out.result()
  }

  /** A fixed pool of `n` daemon threads named `name-<i>`, for driver-side
    * fan-out of small metadata reads (latency, not bandwidth, is what is
    * parallelized). Created once per use site and never shut down. */
  def daemonPool(name: String, n: Int): java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(n,
      new java.util.concurrent.ThreadFactory {
        private val count = new java.util.concurrent.atomic.AtomicInteger()
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"$name-${count.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })

  private def localOf(fs: FileSystem, p: Path): Option[java.io.File] =
    if (fs.getScheme == "file") {
      val u = p.toUri
      if (u.getScheme == null || u.getScheme == "file") Some(new java.io.File(u.getPath))
      else None
    } else None

  /** Drop a ChecksumFileSystem `.name.crc` sidecar if one exists (a stale
    * sidecar next to a file replaced through the raw path would fail
    * checksum verification on the next Hadoop read). */
  private def dropCrc(f: java.io.File): Unit = {
    val crc = new java.io.File(f.getParentFile, "." + f.getName + ".crc")
    if (crc.exists()) crc.delete()
  }

  def create(fs: FileSystem, p: Path, overwrite: Boolean): FSDataOutputStream =
    localOf(fs, p) match {
      case Some(f) =>
        val parent = f.getParentFile
        if (parent != null && !parent.isDirectory) Files.createDirectories(parent.toPath)
        dropCrc(f)
        if (!overwrite) // CREATE_NEW: of racing exclusive creators one succeeds
          try Files.createFile(f.toPath) catch { case _: FileAlreadyExistsException =>
            throw new org.apache.hadoop.fs.FileAlreadyExistsException(s"$p already exists") }
        new FSDataOutputStream(new BufferedOutputStream(new FileOutputStream(f), 64 * 1024), null)
      case None => fs.create(p, overwrite)
    }

  def mkdirs(fs: FileSystem, p: Path): Unit =
    localOf(fs, p) match {
      case Some(f) => Files.createDirectories(f.toPath)
      case None => fs.mkdirs(p)
    }

  /** Plain move: false when the destination exists or the source is gone.
    * Not exclusive: a name racing writers claim goes through [[publishExclusive]]. */
  def rename(fs: FileSystem, src: Path, dst: Path): Boolean =
    (localOf(fs, src), localOf(fs, dst)) match {
      case (Some(s), Some(d)) =>
        try {
          dropCrc(d)
          Files.move(s.toPath, d.toPath)
          // the source's own sidecar (written before this process adopted
          // the raw path) must not orphan under the old name
          dropCrc(s)
          true
        } catch {
          case _: FileAlreadyExistsException => false
          case _: NoSuchFileException => false
        }
      case _ => fs.rename(src, dst)
    }

  /** Publish the complete file `tmp` as `dst` unless `dst` exists: true when
    * this call created it (`tmp` is then gone), false when it existed (`tmp`
    * is left); any other failure throws. Exactly one racing publisher wins on `file:` (link(2) fails on
    * an existing name; a filesystem without hard links throws) and on HDFS
    * (rename refuses one); elsewhere (s3a, local-backed schemes, whose
    * rename replaces) the check before the rename is best effort. */
  def publishExclusive(fs: FileSystem, tmp: Path, dst: Path): Boolean =
    (localOf(fs, tmp), localOf(fs, dst)) match {
      case (Some(s), Some(d)) =>
        dropCrc(d)
        try { Files.createLink(d.toPath, s.toPath); Files.delete(s.toPath); true }
        catch { case _: FileAlreadyExistsException => false }
      case _ =>
        if (fs.exists(dst)) false
        else if (fs.rename(tmp, dst)) true
        else if (fs.exists(dst)) false
        else throw new IOException(s"graft-ocf: could not publish $tmp as $dst")
    }

  /** Atomic replace: the destination, existing or not, is the source in one
    * POSIX rename. Falls back to FileContext OVERWRITE rename (atomic on
    * HDFS), then to exists->delete->rename for filesystems with neither. */
  def renameOverwrite(fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
                      src: Path, dst: Path): Unit =
    (localOf(fs, src), localOf(fs, dst)) match {
      case (Some(s), Some(d)) =>
        dropCrc(d)
        Files.move(s.toPath, d.toPath,
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        dropCrc(s)
      case _ =>
        val fc =
          try Some(org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf))
          catch { case _: org.apache.hadoop.fs.UnsupportedFileSystemException => None }
        fc match {
          case Some(c) =>
            // FileContext renames bypass ChecksumFileSystem, so on local FS
            // the `.{name}.crc` sidecars are neither moved nor replaced —
            // drop both (the temp's orphan and any stale one under the
            // destination name, which would fail verification on read)
            Seq(new Path(src.getParent, "." + src.getName + ".crc"),
                new Path(dst.getParent, "." + dst.getName + ".crc"))
              .foreach(p => if (fs.exists(p)) fs.delete(p, false))
            c.rename(src, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          case None =>
            if (fs.exists(dst)) fs.delete(dst, false)
            if (!fs.rename(src, dst))
              throw new IOException(s"graft-ocf: failed to rename $src to $dst")
        }
    }
}
