package graft.catalog

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` filesystem binding whose chmod is a java.nio call instead of
  * a subprocess.
  *
  * Stock `RawLocalFileSystem.setPermission` — reached from EVERY
  * `FileSystem.create`/`mkdirs` (the `LocalFSFileOutputStream`
  * constructor applies the create-time mode through it) — shells out to
  * `chmod` via `Shell.execCommand` whenever the native Hadoop library is
  * absent: one fork+exec of the whole driver/executor JVM per created
  * file, plus one more for its checksum sidecar. Thread-dump sampling
  * (guide §7.3) measured this as the single largest driver-side cost of
  * the engine's commit protocol (descriptor tmp + CAS marker + snapshot
  * manifests + skip-stats shards per commit) and a visible per-task cost
  * under parquet's `ParquetFileWriter` file creates.
  * `Files.setPosixFilePermissions` is the same chmod(2) without the
  * subprocess. Sticky-bit modes (beyond the POSIX enum) and non-POSIX
  * stores fall back to the stock path.
  *
  * Overwrites replace, never truncate: a create that overwrites an
  * existing regular file unlinks it first, so the new bytes land in a new
  * inode. ext4 (`auto_da_alloc`, the default) flushes a file that is
  * truncated and written again, as it does one renamed over an existing
  * file (see `MetaStore.renameOverwrite`): measured at p50 61.7 ms for an
  * 8-byte file on a virtio ext4 disk, against 0.013 ms for a fresh
  * create. Hadoop's `FileOutputCommitter.commitJob` rewrites `_SUCCESS`
  * and its `._SUCCESS.crc` at the table root on every commit that is not
  * a dynamic overwrite, so that flush was most of a commit's tail after
  * its last job. `ChecksumFileSystem` creates the crc sidecar through the
  * same raw call, and [[GraftLocalFs]] delegates to this class, so the
  * rule covers every overwriting create on a bound session. Appends keep
  * the inode; a symlink is written through to its target and a directory
  * at the path fails, as with the stock filesystem. What differs: a hard
  * link to an overwritten file keeps the old bytes, and a reader between
  * the unlink and the create finds no file instead of an empty one.
  * `GraftIO.writeSmallFile` writes through nio and still truncates: its
  * overwriting callers write fresh tmp names on every commit.
  *
  * Registered via `fs.file.impl` (see [[graft.GraftBootstrap]] and the
  * session builders): local deployments get fork-free metadata I/O;
  * cluster filesystems (hdfs/s3/...) are untouched by construction. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): java.io.OutputStream = {
    val p = pathToFile(f).toPath
    // a symlink or a directory is left alone: the stock create handles it
    if (!append && Files.isRegularFile(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Files.deleteIfExists(p)
    super.createOutputStreamWithMode(f, append, permission)
  }

  /** Link status without the subprocess: stock `getFileLinkStatus`
    * resolves symlinks through `FileUtil.readLink` — a fork+exec of
    * `readlink` per call — and `AbstractFileSystem.renameInternal`
    * calls it on EVERY FileContext rename (twice per streaming
    * state-store commit: the delta file and its checksum). For the
    * overwhelmingly common non-symlink case one lstat answers the same
    * question; true symlinks keep the stock path. */
  override def getFileLinkStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    val nio = pathToFile(f).toPath
    if (java.nio.file.Files.isSymbolicLink(nio)) super.getFileLinkStatus(f)
    else getFileStatus(f)
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    if (permission.getStickyBit) { super.setPermission(p, permission); return }
    try {
      val m: Int = permission.toShort.toInt
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      val order = Array(
        PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE,
        PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.GROUP_READ,
        PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE,
        PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE,
        PosixFilePermission.OTHERS_EXECUTE)
      var i = 0
      while (i < 9) {
        if ((m & (1 << (8 - i))) != 0) perms.add(order(i))
        i += 1
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    } catch {
      case e: java.nio.file.NoSuchFileException =>
        throw new java.io.FileNotFoundException(e.getMessage)
      case _: UnsupportedOperationException | _: SecurityException =>
        super.setPermission(p, permission)
    }
  }
}

/** The checksummed wrapper Hadoop serves for `file:` — identical to
  * [[LocalFileSystem]] but backed by [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The FileContext-side twin (`fs.AbstractFileSystem.file.impl`) —
  * stock `LocalFs` is `ChecksumFs(RawLocalFs)` where `RawLocalFs`
  * instantiates `RawLocalFileSystem` DIRECTLY (never consulting
  * `fs.file.impl`), so structured streaming's checkpoint/state-store
  * manager — `FileContextBasedCheckpointFileManager`, a create +
  * rename per state partition per micro-batch — kept forking after the
  * FileSystem-side swap. Same checksummed semantics, fork-free raw. */
class GraftLocalFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.ChecksumFs(
    new GraftLocalFs.Raw(uri, conf))

object GraftLocalFs {
  private[GraftLocalFs] class Raw(
      uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      uri, new GraftRawLocalFileSystem, conf, "file", false)
}
