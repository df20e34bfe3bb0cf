package graft.catalog

import java.net.URI
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path => JPath, Paths, StandardOpenOption}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftBootstrap, SparkFixture}
import graft.operators.{Compaction, Rollback}

/** Overwrites on the local binding replace, never truncate
  * ([[GraftRawLocalFileSystem]]). Contracts:
  *
  *  - an overwrite puts the file and its crc sidecar in new inodes, and
  *    the new bytes read back with their checksum verified;
  *  - everything else behaves as the stock filesystem: `overwrite =
  *    false` throws, an append keeps the inode, a symlink is written
  *    through to its target, a directory at the path fails;
  *  - no commit kind of the engine rewrites a file under the table root
  *    or `_meta` in place, and `_SUCCESS` is still written.
  *
  * ext4 reuses a freed inode number at once, so every "new inode" check
  * holds the old file open across the overwrite: the old inode stays
  * allocated, and its bytes stay readable through the held channel.
  */
class LocalReplaceSpec extends AnyFunSuite with SparkFixture {

  private val NoFollow = LinkOption.NOFOLLOW_LINKS

  private def ino(p: JPath): Long = Files.getAttribute(p, "unix:ino", NoFollow).asInstanceOf[Long]

  private def crcOf(p: JPath): JPath = p.resolveSibling(s".${p.getFileName}.crc")

  private def held(p: JPath): FileChannel = FileChannel.open(p, StandardOpenOption.READ)

  private def readAll(ch: FileChannel): String = {
    val buf = ByteBuffer.allocate(ch.size().toInt)
    ch.read(buf, 0L)
    new String(buf.array(), UTF_8)
  }

  private def withDir(body: JPath => Unit): Unit = {
    val d = Files.createTempDirectory("graft-replace")
    try body(d)
    finally Files.walk(d).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  private def hpath(p: JPath): Path = new Path(p.toUri)

  /** The two create surfaces of a bound session over one directory. */
  private trait Surface {
    def create(p: JPath, bytes: String, overwrite: Boolean): Unit
    def read(p: JPath): String
  }

  private def graftFs = {
    val fs = new GraftLocalFileSystem
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private val fileSystem = new Surface {
    private val fs = graftFs
    def create(p: JPath, bytes: String, overwrite: Boolean): Unit = {
      val out = fs.create(hpath(p), overwrite)
      try out.write(bytes.getBytes(UTF_8)) finally out.close()
    }
    def read(p: JPath): String = {
      val in = fs.open(hpath(p))
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
  }

  private val fileContext = new Surface {
    private val conf = new Configuration()
    private val fc = FileContext.getFileContext(new GraftLocalFs(URI.create("file:///"), conf), conf)
    def create(p: JPath, bytes: String, overwrite: Boolean): Unit = {
      val flags = if (overwrite) EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
        else EnumSet.of(CreateFlag.CREATE)
      val out = fc.create(hpath(p), flags)
      try out.write(bytes.getBytes(UTF_8)) finally out.close()
    }
    def read(p: JPath): String = {
      val in = fc.open(hpath(p))
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
  }

  Seq("GraftLocalFileSystem" -> fileSystem, "FileContext over GraftLocalFs" -> fileContext)
    .foreach { case (label, s) =>
      test(s"$label: an overwrite replaces the file and its crc, and reads back verified") {
        withDir { d =>
          val f = d.resolve("f")
          s.create(f, "old bytes", overwrite = false)
          val (oldFile, oldCrc) = (held(f), held(crcOf(f)))
          try {
            val (inoFile, inoCrc) = (ino(f), ino(crcOf(f)))
            s.create(f, "the new, longer bytes", overwrite = true)
            assert(ino(f) !== inoFile)
            assert(ino(crcOf(f)) !== inoCrc)
            // a stale crc would fail this read with a ChecksumException
            assert(s.read(f) === "the new, longer bytes")
            assert(readAll(oldFile) === "old bytes")
          } finally { oldFile.close(); oldCrc.close() }
        }
      }

      test(s"$label: overwrite = false on an existing file still throws") {
        withDir { d =>
          val f = d.resolve("f")
          s.create(f, "first", overwrite = false)
          intercept[FileAlreadyExistsException](s.create(f, "second", overwrite = false))
          assert(s.read(f) === "first")
        }
      }

      test(s"$label: a symlink is written through to its target") {
        withDir { d =>
          val target = d.resolve("target")
          Files.write(target, "old".getBytes(UTF_8))
          val link = Files.createSymbolicLink(d.resolve("link"), target.getFileName)
          s.create(link, "new", overwrite = true)
          assert(Files.isSymbolicLink(link))
          assert(new String(Files.readAllBytes(target), UTF_8) === "new")
        }
      }

      test(s"$label: a directory at the path still fails") {
        withDir { d =>
          val dir = Files.createDirectory(d.resolve("dir"))
          intercept[java.io.IOException](s.create(dir, "x", overwrite = true))
          assert(Files.isDirectory(dir, NoFollow))
        }
      }
    }

  test("an append through the raw filesystem keeps the inode") {
    withDir { d =>
      val f = d.resolve("f")
      Files.write(f, "head".getBytes(UTF_8))
      val before = ino(f)
      val out = graftFs.getRawFileSystem.append(hpath(f))
      try out.write("+tail".getBytes(UTF_8)) finally out.close()
      assert(ino(f) === before)
      assert(new String(Files.readAllBytes(f), UTF_8) === "head+tail")
    }
  }

  test("a hard link to an overwritten file keeps the old bytes") {
    withDir { d =>
      val f = d.resolve("f")
      fileSystem.create(f, "old", overwrite = false)
      val link = Files.createLink(d.resolve("hard"), f)
      fileSystem.create(f, "new", overwrite = true)
      assert(fileSystem.read(f) === "new")
      assert(new String(Files.readAllBytes(link), UTF_8) === "old")
    }
  }

  // ---- commit-level guard ----

  private val db = "replacetest"
  private val ns = s"${GraftBootstrap.CatalogName}.$db"

  private def cat: GraftCatalog = spark.sessionState.catalogManager
    .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]

  private def local(p: Path): JPath = Paths.get(p.toUri.getPath)

  private def root(t: String): JPath = local(new Path(cat.metaStore.loadTable(db, t).location))

  private def metaDir(t: String): JPath = local(cat.metaStore.tableMetaFile(db, t).getParent)

  private case class Seen(ino: Long, mtimeNs: Long, size: Long)

  private def snapshot(dirs: Seq[JPath]): Map[JPath, Seen] =
    dirs.filter(Files.isDirectory(_)).flatMap { d =>
      val walk = Files.walk(d)
      try walk.iterator.asScala.filter(Files.isRegularFile(_, NoFollow)).map { p =>
        p -> Seen(ino(p), Files.getLastModifiedTime(p, NoFollow).to(java.util.concurrent.TimeUnit.NANOSECONDS),
          Files.size(p))
      }.toList
      finally walk.close()
    }.toMap

  /** Runs `body` with every regular file under `t`'s root and `_meta`
    * held open, and returns the paths that kept their inode while their
    * mtime or size changed: files rewritten in place. Symlinks (the
    * published descriptors) cannot be rewritten in place and are not
    * held, so their inode numbers may be reused. */
  private def inPlaceRewrites(t: String)(body: => Unit): Seq[String] = {
    val dirs = Seq(root(t), metaDir(t))
    val before = snapshot(dirs)
    val channels = before.keys.map(held).toList
    try body finally channels.foreach(_.close())
    val after = snapshot(dirs)
    before.collect { case (p, b) if after.get(p).exists(a => a.ino == b.ino && a != b) =>
      s"$p: $b -> ${after(p)}"
    }.toSeq.sorted
  }

  private def table(name: String, props: String): String = {
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    val t = s"$ns.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT NOT NULL, v BIGINT, p INT) PARTITIONED BY (p) $props")
    t
  }

  private def rows(from: Long, n: Long) =
    spark.range(from, from + n).selectExpr("id AS k", "id * 3 AS v", "CAST(id % 4 AS INT) AS p")

  test("no commit kind rewrites a file in place under the table root or _meta") {
    val cow = table("cow", "")
    val mor = table("mor", "TBLPROPERTIES ('graft.dml.mode'='merge-on-read', 'graft.dml.key'='k')")
    val pos = table("pos", "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    Seq(cow, mor, pos).foreach(t => rows(0, 40).writeTo(t).append())
    rows(100, 8).createOrReplaceTempView("replace_src")
    val statements: Seq[(String, String, () => Unit)] = Seq(
      ("append", cow, () => rows(40, 20).writeTo(cow).append()),
      ("second append", cow, () => rows(60, 20).writeTo(cow).append()),
      ("static overwrite", cow,
        () => spark.sql(s"INSERT OVERWRITE $cow PARTITION (p = 1) SELECT k, v FROM replace_src")),
      ("dynamic overwrite", cow, () => rows(200, 8).where("p = 2").writeTo(cow).overwritePartitions()),
      ("COW UPDATE", cow, () => spark.sql(s"UPDATE $cow SET v = v + 1 WHERE k % 3 = 0")),
      ("keyed MOR DELETE", mor, () => spark.sql(s"DELETE FROM $mor WHERE k % 5 = 1")),
      ("keyed MOR MERGE", mor, () => spark.sql(
        s"""MERGE INTO $mor tgt USING replace_src s ON tgt.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, s.v, s.p)""".stripMargin)),
      ("positional UPDATE", pos, () => spark.sql(s"UPDATE $pos SET v = v + 1 WHERE k % 4 = 2")),
      ("compaction", mor, () => Compaction.compact(spark, mor)),
      ("rollback", pos, () => { Rollback.rollback(spark, pos); () }))
    statements.foreach { case (label, t, run) =>
      val rewritten = inPlaceRewrites(t.split("\\.").last)(run())
      assert(rewritten.isEmpty, s"$label rewrote in place: ${rewritten.mkString("; ")}")
      if (label == "second append") assert(Files.exists(root("cow").resolve("_SUCCESS")))
    }
    // 80 appended, p = 1 overwritten by 8 rows, p = 2 by 2
    assert(spark.table(cow).count() === 50L)
    assert(spark.table(pos).count() === 40L)
  }
}
