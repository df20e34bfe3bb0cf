package graft.catalog

import java.util.concurrent.{LinkedBlockingQueue, ThreadFactory, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.ExecutionContext
import scala.concurrent.duration._

/** Dedicated bounded pool for driver-side filesystem metadata I/O
  * (footer reads, listing fan-outs) that runs INSIDE a commit's
  * write-permit critical section. Two properties the shared global
  * `ExecutionContext` cannot give:
  *
  *  - isolation: blocking filesystem opens never starve the
  *    CPU-sized global pool other driver work (AQE callbacks,
  *    broadcast relations) schedules on;
  *  - boundedness: the thread count is fixed (I/O-sized, not
  *    CPU-sized), and callers pair it with a FINITE deadline so one
  *    hung open degrades to the caller's advisory-failure path
  *    instead of holding the table's write permit forever.
  *
  * Threads are daemons and idle out after 60 s, so an application
  * that never commits pays nothing.
  */
private[graft] object GraftIO {

  /** Create-and-write a small driver-side metadata file (descriptor
    * tmp, CAS marker, snapshot/skip-stats shard, txn manifest).
    *
    * On a LOCAL filesystem, `FileSystem.create` is a fork bomb in slow
    * motion: without the native Hadoop library every create runs
    * `RawLocalFileSystem.setPermission` → `Shell.execCommand` — a
    * fork+exec of the multi-GB driver JVM per file (measured by
    * thread-dump sampling as a double-digit share of commit wall time,
    * guide §7.3), plus a checksum sidecar that doubles the file count.
    * The java.nio path is one open(2): CREATE_NEW preserves the atomic
    * exclusive-create the CAS claim relies on, and any stale checksum
    * sidecar is dropped so a later checksummed reader can never pair
    * old crc bytes with new data (an absent crc reads unverified).
    * Non-local filesystems keep `FileSystem.create` unchanged.
    *
    * Acknowledged trade (r21 ADVICE): the nio path writes NO crc
    * sidecar at all, so catalog metadata on a local warehouse loses
    * ChecksumFileSystem's bit-rot detection — accepted deliberately
    * because every consumer of these small files already fails loudly
    * on torn/corrupt content (JSON parse / manifest-format checks), a
    * local-fs bench/dev deployment is not the durability tier, and
    * cluster filesystems (where durability matters) keep their
    * checksum machinery untouched.
    *
    * nio's FileAlreadyExistsException is rethrown as Hadoop's, so
    * exclusive-create callers keep one catch clause. */
  def writeSmallFile(
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path,
      bytes: Array[Byte], overwrite: Boolean): Unit = {
    if (fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem]) {
      import java.nio.file.{Files, Paths, StandardOpenOption => O}
      val local = Paths.get(p.toUri.getPath)
      val crc = Paths.get(new org.apache.hadoop.fs.Path(
        p.getParent, s".${p.getName}.crc").toUri.getPath)
      Option(local.getParent).foreach(Files.createDirectories(_))
      if (overwrite) {
        // drop the stale sidecar BEFORE the bytes land: readers in the
        // window fall back to unverified reads, never old-crc/new-data
        Files.deleteIfExists(crc)
        Files.write(local, bytes, O.CREATE, O.TRUNCATE_EXISTING, O.WRITE)
      } else {
        try Files.write(local, bytes, O.CREATE_NEW, O.WRITE)
        catch { case e: java.nio.file.FileAlreadyExistsException =>
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            s"$p already exists: ${e.getMessage}")
        }
        // the path did not exist, so a sidecar here is orphaned residue
        Files.deleteIfExists(crc)
      }
    } else {
      val out = fs.create(p, overwrite)
      try out.write(bytes) finally out.close()
    }
  }

  /** A small file's whole content as UTF-8; None when it does not exist. */
  def readSmallFile(
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }

  /** A JSON string literal: quote, backslash and every control character
    * (< 0x20) escaped — what the hand-rolled metadata writers emit. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private val poolSize: Int =
    math.min(32, math.max(8, Runtime.getRuntime.availableProcessors()))

  private val counter = new AtomicInteger(0)

  private val executor: ThreadPoolExecutor = {
    val tf = new ThreadFactory {
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-io-${counter.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    }
    val e = new ThreadPoolExecutor(poolSize, poolSize, 60L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), tf)
    e.allowCoreThreadTimeOut(true)
    e
  }

  val ec: ExecutionContext = ExecutionContext.fromExecutor(executor)

  /** Deadline for a batch of per-file footer reads: a generous
    * per-file budget amortized over the pool's parallelism, floored so
    * tiny batches on a cold filesystem never time out spuriously. A
    * miss is ADVISORY by contract — every caller catches the
    * `TimeoutException` on its log-and-skip path. */
  def footerReadDeadline(files: Int): FiniteDuration = {
    val perFileSec = 10L
    val waves = math.max(1L, math.ceil(files.toDouble / poolSize).toLong)
    math.max(60L, waves * perFileSec).seconds
  }
}
