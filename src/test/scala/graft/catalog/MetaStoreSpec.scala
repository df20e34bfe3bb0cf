package graft.catalog

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{StructField, StructType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** MetaStore persistence semantics: atomic descriptor writes, checked
  * renames, namespace guards — the invariants hardened in round 3 that
  * never had a test. Driver-side only; no SparkSession needed. */
class MetaStoreSpec extends AnyFunSuite {

  private def freshStore(): MetaStore = {
    val dir = Files.createTempDirectory("graft-metastore-spec").toString
    new MetaStore(new Path(dir), new Configuration())
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("p", StringType)))

  private def meta(name: String, partCols: Seq[String] = Nil): TableMeta =
    TableMeta(name = name, schemaJson = schema.json, provider = "parquet",
      partitionColumns = partCols, location = s"/tmp/unused/$name",
      external = true, properties = Map("k" -> "v"), stats = None, partitions = Nil)

  test("save/load round-trip preserves schema, partitions, props, stats") {
    val s = freshStore()
    s.createNamespace("db", Map("owner" -> "me"))
    val m = meta("t", partCols = Seq("p")).copy(
      stats = Some(TableStats(123L, Some(7L))),
      partitions = Seq(PartitionMeta(Map("p" -> "a"), None, 55L)))
    s.saveTable("db", m)
    val back = s.loadTable("db", "t")
    assert(back.schema === schema)
    assert(back.partitionColumns === Seq("p"))
    assert(back.properties === Map("k" -> "v"))
    assert(back.stats.contains(TableStats(123L, Some(7L))))
    assert(back.partitions === Seq(PartitionMeta(Map("p" -> "a"), None, 55L)))
  }

  test("round-trip preserves the round-18 lineage fields: snapshots, versions, creation, per-partition colStats") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    val cs = ColumnStatsMeta(ndv = 4L, nullCount = 1L,
      min = Some("a"), max = Some("z"), avgLen = Some(3L), maxLen = Some(9L),
      histogram = None)
    val m = meta("t2", partCols = Seq("p")).copy(
      createdAtMs = 1700000000123L,
      lastSnapshotVersion = 9L,
      snapshots = Seq(
        SnapshotMeta(9L, 1700000001000L, "append", "/x/snap-9.json"),
        SnapshotMeta(8L, 1700000000500L, "rewrite", "/x/snap-8.json")),
      partitions = Seq(
        PartitionMeta(Map("p" -> "a"), None, 55L, Some(7L), Map("id" -> cs)),
        PartitionMeta(Map("p" -> "b"), Some("/custom"), 66L)))
    s.saveTable("db", m)
    val back = s.loadTable("db", "t2")
    assert(back.createdAtMs === 1700000000123L)
    assert(back.lastSnapshotVersion === 9L)
    assert(back.snapshots === m.snapshots)
    assert(back.partitions === m.partitions,
      "per-partition colStats must survive the JSON round trip")
  }

  test("saveTable overwrite is atomic: reload sees old-or-new, never absent") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("t"))
    s.saveTable("db", meta("t").copy(properties = Map("k" -> "v2")))
    assert(s.loadTable("db", "t").properties === Map("k" -> "v2"))
  }

  test("cross-driver CAS: a concurrent driver's descriptor write is never lost (rebase + retry)") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("t"))
    // a SECOND DRIVER over the same warehouse: separate MetaStore
    // instance — in production a separate JVM, so no shared monitor
    val s2 = new MetaStore(s.warehouse, new Configuration())
    // interleave the other driver's commit between OUR load and OUR CAS
    // claim — the classic lost-update window. Under last-wins this
    // driver's save would silently erase driverB's property.
    var fired = false
    MetaStore.casTestHook = Some { attempts =>
      if (!fired && attempts == 0) {
        fired = true
        // bypass our monitor like a foreign JVM would: raw CAS write via
        // the second store's own updateTable (different monitor would be
        // ideal; the JVM-global map shares it, so write directly)
        val cur = s2.loadTable("db", "t")
        val updated = cur.copy(
          properties = cur.properties + ("driverB" -> "yes"),
          seq = cur.seq + 1)
        val markerPath = new Path(s2.warehouse, s"db/_meta/t.json.cas-${updated.seq}")
        val fs = markerPath.getFileSystem(new Configuration())
        val out = fs.create(markerPath, false)
        try out.write(MetaStore.toJson(updated).getBytes("UTF-8"))
        finally out.close()
        // driverB dies between claim and publish — roll-forward must
        // finish it AND our own update must rebase on top
      }
    }
    try {
      val merged = s.updateTable("db", "t")(m =>
        m.copy(properties = m.properties + ("driverA" -> "yes")))
      assert(merged.properties.get("driverA").contains("yes"))
      assert(merged.properties.get("driverB").contains("yes"),
        "the concurrent driver's write must survive (lost-update impossible)")
      assert(merged.seq === 2L, "both commits must consume a sequence number")
    } finally MetaStore.casTestHook = None
    // markers are consumed/reclaimed
    val fs = s.warehouse.getFileSystem(new Configuration())
    assert(!fs.listStatus(new Path(s.warehouse, "db/_meta"))
      .exists(_.getPath.getName.contains(".cas-")),
      "no CAS markers may linger after publication")
  }

  test("cross-driver CAS: a loser re-records its snapshot and never overwrites the winner's") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    val loc = Files.createTempDirectory("graft-metastore-cas-snap").toString
    s.saveTable("db", meta("t", partCols = Seq("p")).copy(location = loc, external = false))
    val s2 = new MetaStore(s.warehouse, new Configuration())
    val conf = new Configuration()
    // one commit: a data file in its own partition, registered and
    // recorded by the one publish
    def commit(store: MetaStore, part: String, token: String): TableMeta = {
      val spec = Map("p" -> part)
      val dir = write.GraftBatchWrite.partitionDir(store.loadTable("db", "t"), spec)
      val out = dir.getFileSystem(conf).create(new Path(dir, s"$part.parquet"), false)
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      Snapshots.publish(conf, store, "db", "t", "append", token, Seq(dir.toString))(m =>
        m.copy(partitions = m.partitions :+ PartitionMeta(spec, None, 3L)))
    }
    // driver B commits completely between driver A's load and A's claim
    var fired = false
    var winner: Option[TableMeta] = None
    MetaStore.casTestHook = Some { attempts =>
      if (attempts == 0 && !fired) {
        fired = true
        winner = Some(commit(s2, "b", "token-b"))
      }
    }
    val a = try commit(s, "a", "token-a") finally MetaStore.casTestHook = None
    val b = winner.get
    val bHead = b.snapshots.head
    assert(Snapshots.readSnap(conf, bHead.file).map(_.token).contains("token-b"),
      "the winner's published head must still read back as the winner's")
    assert(a.seq === b.seq + 1, "the loser re-derives over the winner's descriptor")
    assert(a.snapshots.map(_.version) === Seq(bHead.version + 1, bHead.version),
      "the loser's head is the next version, over the winner's")
    val aSnap = Snapshots.readSnap(conf, a.snapshots.head.file).get
    assert(aSnap.token === "token-a")
    assert(aSnap.dirs.map(_.spec("p")).toSet === Set("a", "b"))
    assert(aSnap.dirs.find(_.spec("p") == "b").map(_.shard) ===
      Snapshots.readSnap(conf, bHead.file).get.dirs.find(_.spec("p") == "b").map(_.shard),
      "the winner's partition keeps the winner's shard")
    assert(s.loadTable("db", "t").partitions.map(_.spec("p")).toSet === Set("a", "b"))
  }

  test("cross-driver CAS: a claim published by another driver's roll-forward is applied once") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("t", partCols = Seq("p")))
    val s2 = new MetaStore(s.warehouse, new Configuration())
    def add(part: String)(m: TableMeta): TableMeta =
      m.copy(partitions = m.partitions :+ PartitionMeta(Map("p" -> part), None, 1L))
    // between store A's claim and its re-read, store B runs an update:
    // its roll-forward publishes A's marker, then (when `alsoCommit`)
    // B commits a partition of its own on top
    def run(part: String, alsoCommit: Boolean): Unit = {
      var fired = false
      MetaStore.casClaimTestHook = Some { () =>
        if (!fired) {
          fired = true
          if (alsoCommit) s2.updateTable("db", "t")(add(s"$part-b"))
          else s2.updateTable("db", "t")(identity)
        }
      }
      val before = s.loadTable("db", "t").seq
      val a = try s.updateTable("db", "t")(add(part)) finally MetaStore.casClaimTestHook = None
      assert(fired)
      val after = s.loadTable("db", "t")
      assert(a.seq === before + 1)
      assert(after.seq === before + (if (alsoCommit) 2 else 1),
        "A's update must land exactly once")
      assert(after.partitions.count(_.spec("p") == part) === 1)
    }
    run("a", alsoCommit = false)
    run("c", alsoCommit = true)
    assert(s.loadTable("db", "t").partitions.map(_.spec("p")) === Seq("a", "c", "c-b"))
    val fs = s.warehouse.getFileSystem(new Configuration())
    assert(!fs.listStatus(new Path(s.warehouse, "db/_meta"))
      .exists(_.getPath.getName.contains(".cas-")),
      "no CAS markers may linger")
  }

  test("CAS stress: 100 racing updates across 4 threads and 2 store instances all land") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("t"))
    val s2 = new MetaStore(s.warehouse, new Configuration())
    val stores = Seq(s, s2, s, s2)
    val threads = (0 until 4).map { ti =>
      new Thread(() => {
        (0 until 25).foreach { i =>
          stores(ti).updateTable("db", "t")(m =>
            m.copy(properties = m.properties + (s"k-$ti-$i" -> "1")))
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val fin = s.loadTable("db", "t")
    val landed = fin.properties.keys.count(_.startsWith("k-"))
    assert(landed === 100, s"every racing update must land, got $landed")
    assert(fin.seq === 100L, "each update must consume exactly one sequence number")
  }

  test("CAS roll-forward publishes markers in NUMERIC seq order with per-publish re-checks") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("t10").copy(seq = 8))
    // two complete markers above the descriptor: 'cas-10' sorts BEFORE
    // 'cas-9' lexicographically, so a name-ordered walk with a stale
    // pre-loop seq would publish 10 first and then OVERWRITE it with 9
    val dir = s.tableMetaFile("db", "t10").getParent
    val fs = dir.getFileSystem(new Configuration())
    def plant(m: TableMeta): Unit = {
      val out = fs.create(new Path(dir, s"t10.json.cas-${m.seq}"), false)
      try out.write(MetaStore.toJson(m).getBytes("UTF-8")) finally out.close()
    }
    plant(meta("t10").copy(properties = Map("v" -> "nine"), seq = 9))
    plant(meta("t10").copy(properties = Map("v" -> "ten"), seq = 10))
    // any updateTable rolls forward first; an unchanged return publishes
    // nothing of its own
    val rolled = s.updateTable("db", "t10")(m => m)
    assert(rolled.seq === 10L, s"descriptor must end at the NEWEST marker")
    assert(rolled.properties.get("v").contains("ten"),
      "the seq-10 state must win, not the lexicographically-later cas-9")
    // both markers reclaimed
    assert(!fs.exists(new Path(dir, "t10.json.cas-9")) &&
      !fs.exists(new Path(dir, "t10.json.cas-10")))
  }

  test("saveTable clears pending CAS markers (a restore must never be rolled over)") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("t11").copy(seq = 5))
    val dir = s.tableMetaFile("db", "t11").getParent
    val fs = dir.getFileSystem(new Configuration())
    val marker = new Path(dir, "t11.json.cas-9")
    val out = fs.create(marker, false)
    try out.write(MetaStore.toJson(
      meta("t11").copy(properties = Map("v" -> "stale"), seq = 9)).getBytes("UTF-8"))
    finally out.close()
    // the authoritative restore (seq REGRESSES to 3) must delete the
    // pending higher-seq marker, or the next updateTable would roll the
    // reversed state forward over it
    s.saveTable("db", meta("t11").copy(properties = Map("v" -> "restored"), seq = 3))
    assert(!fs.exists(marker), "restore must clear pending CAS markers")
    val after = s.updateTable("db", "t11")(m => m)
    assert(after.properties.get("v").contains("restored") && after.seq === 3L)
  }

  test("renameTable refuses an existing destination") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("a"))
    s.saveTable("db", meta("b"))
    intercept[Exception](s.renameTable("db", "a", "db", "b"))
    // both originals intact
    assert(s.listTables("db").toSet === Set("a", "b"))
  }

  test("partition schema resolution is case-insensitive") {
    val m = meta("t", partCols = Seq("P"))
    assert(m.partitionSchema.fieldNames.toSeq === Seq("p"))
    assert(m.dataSchema.fieldNames.toSeq === Seq("id"))
  }

  test("namespace emptiness drives the catalog's non-cascade drop guard") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    assert(s.namespaceExists("db"))
    assert(s.namespaceIsEmpty("db"))
    s.saveTable("db", meta("t"))
    assert(!s.namespaceIsEmpty("db"))
    s.dropTable("db", "t", deleteData = false)
    assert(s.namespaceIsEmpty("db"))
  }

  test("updateTable serializes across stores opened via different spellings of one warehouse") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = Files.createTempDirectory("graft-metastore-lock").toString
    // same warehouse, two spellings: the lock key must be FS-qualified
    // or these two stores race load-modify-save and lose updates
    val a = new MetaStore(new Path(dir), new Configuration())
    val b = new MetaStore(new Path(s"file://$dir"), new Configuration())
    a.createNamespace("db", Map.empty)
    a.saveTable("db", meta("t"))
    val writers = (0 until 40).map { i => Future {
      val store = if (i % 2 == 0) a else b
      store.updateTable("db", "t") { m =>
        m.copy(partitions = m.partitions :+
          PartitionMeta(Map("p" -> s"v$i"), None, i.toLong))
      }
    } }
    Await.result(Future.sequence(writers), 60.seconds)
    val specs = a.loadTable("db", "t").partitions.map(_.spec("p")).toSet
    assert(specs === (0 until 40).map(i => s"v$i").toSet,
      s"lost updates across store spellings: ${specs.size}/40 survived")
  }

  private def metaDir(s: MetaStore, db: String): java.nio.file.Path =
    java.nio.file.Paths.get(s.tableMetaFile(db, "x").getParent.toUri.getPath)

  private def names(dir: java.nio.file.Path): Set[String] = {
    val ls = Files.list(dir)
    try ls.iterator.asScala.map(_.getFileName.toString).toSet finally ls.close()
  }

  test("local descriptors are links to version files: one link and one version per live table") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    Seq("a", "b", "c").foreach(t => s.saveTable("db", meta(t)))
    (0 until 50).foreach { i =>
      s.updateTable("db", Seq("a", "b", "c")(i % 3))(m =>
        m.copy(properties = m.properties + (s"k$i" -> "1")))
    }
    s.renameTable("db", "b", "db", "b2")
    s.dropTable("db", "c", deleteData = false)
    val dir = metaDir(s, "db")
    val files = names(dir)
    assert(files.count(!_.startsWith(".")) === 2, files)
    assert(files.size === 4, s"exactly one link and one version file per live table: $files")
    Seq("a", "b2").foreach { t =>
      val link = dir.resolve(s"$t.json")
      assert(Files.isSymbolicLink(link))
      val target = Files.readSymbolicLink(link)
      assert(!target.isAbsolute && target.getFileName.toString.startsWith(s".$t.json.v-"))
      assert(files.contains(target.toString))
    }
    assert(s.loadTable("db", "a").properties.keySet === Set("k") ++ (0 until 50 by 3).map(i => s"k$i"))
    assert(s.loadTable("db", "b2").properties.keySet === Set("k") ++ (1 until 50 by 3).map(i => s"k$i"))
    assert(s.listTables("db") === Seq("a", "b2"))
  }

  test("an orphaned version file is reclaimed once older than the torn window; a fresh one is kept") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("t"))
    val dir = metaDir(s, "db")
    val stale = dir.resolve(".t.json.v-stale")
    val fresh = dir.resolve(".t.json.v-fresh")
    Seq(stale, fresh).foreach(f => Files.write(f, MetaStore.toJson(meta("t")).getBytes("UTF-8")))
    Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 120000L))
    // the live target is older than the window too and must survive
    val live = dir.resolve(Files.readSymbolicLink(dir.resolve("t.json")))
    Files.setLastModifiedTime(live,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 120000L))
    s.updateTable("db", "t")(m => m)
    assert(!Files.exists(stale), "a stale orphan must be reclaimed")
    assert(Files.exists(fresh), "a fresh version file may be a publish in flight")
    assert(Files.exists(live))
    assert(s.loadTable("db", "t").properties === Map("k" -> "v"))
  }

  test("readers under 200 racing publishes from two stores always parse and never see seq go down") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("t"))
    val s2 = new MetaStore(s.warehouse, new Configuration())
    @volatile var done = false
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val readers = (0 until 2).map { r =>
      new Thread(() => {
        var last = -1L
        while (!done) {
          try {
            val seq = (if (r == 0) s else s2).loadTable("db", "t").seq
            if (seq < last) errors.add(s"reader $r saw seq $seq after $last")
            last = seq
            reads.incrementAndGet()
          } catch { case e: Throwable => errors.add(s"reader $r: $e") }
        }
      })
    }
    val writers = Seq(s, s2).zipWithIndex.map { case (store, w) =>
      new Thread(() => (0 until 100).foreach { i =>
        store.updateTable("db", "t")(m => m.copy(properties = m.properties + (s"w$w-$i" -> "1")))
      })
    }
    readers.foreach(_.start())
    writers.foreach(_.start())
    writers.foreach(_.join())
    done = true
    readers.foreach(_.join())
    assert(errors.isEmpty, errors.toArray.take(5).mkString("; "))
    assert(reads.get() > 0L)
    assert(s.loadTable("db", "t").seq === 200L)
  }

  test("a plain-file descriptor loads, and its next update turns it into a link at seq + 1") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    val old = meta("t").copy(seq = 7L)
    val file = java.nio.file.Paths.get(s.tableMetaFile("db", "t").toUri.getPath)
    Files.write(file, MetaStore.toJson(old).getBytes("UTF-8"))
    assert(s.loadTable("db", "t") === old)
    val updated = s.updateTable("db", "t")(m => m.copy(properties = m.properties + ("k2" -> "v2")))
    assert(Files.isSymbolicLink(file))
    val expected = old.copy(seq = 8L, properties = old.properties + ("k2" -> "v2"))
    assert(updated === expected && s.loadTable("db", "t") === expected)
    assert(new String(Files.readAllBytes(file), "UTF-8") === MetaStore.toJson(expected),
      "the descriptor bytes are the same JSON a plain file held")
    assert(names(file.getParent).size === 2)
  }

  test("a filesystem without symlinks falls back to the replace rename, counted") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("t"))
    val noLinks = new MetaStore(s.warehouse, new Configuration()) {
      override protected[catalog] def createLink(
          link: java.nio.file.Path, target: java.nio.file.Path): Unit =
        throw new UnsupportedOperationException("no symlinks here")
    }
    (0 until 2).foreach { i =>
      noLinks.updateTable("db", "t")(m => m.copy(properties = m.properties + (s"f$i" -> "1")))
    }
    val file = java.nio.file.Paths.get(s.tableMetaFile("db", "t").toUri.getPath)
    assert(!Files.isSymbolicLink(file) && Files.isRegularFile(file))
    assert(noLinks.linkFallbacks === 2L && s.linkFallbacks === 0L)
    assert(s.loadTable("db", "t").properties.keySet === Set("k", "f0", "f1"))
    assert(names(file.getParent) === Set("t.json"),
      "the link's old version file goes with the first fallback publish")
  }

  test("an orphaned namespace version file is reclaimed by the next namespace publish; a fresh one is kept") {
    val s = freshStore()
    s.createNamespace("db", Map("owner" -> "me"))
    val dir = java.nio.file.Paths.get(s.namespaceDir("db").toUri.getPath)
    val old = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 120000L)
    val stale = dir.resolve("._namespace.json.v-stale")
    val fresh = dir.resolve("._namespace.json.v-fresh")
    Seq(stale, fresh).foreach(f => Files.write(f, "{}".getBytes("UTF-8")))
    Files.setLastModifiedTime(stale, old)
    // the live target is older than the window too: the publish itself
    // replaces it; the reclaim is what removes the stale orphan
    val live = dir.resolve(Files.readSymbolicLink(dir.resolve("_namespace.json")))
    Files.setLastModifiedTime(live, old)
    s.alterNamespace("db", Map("owner" -> "you"))
    assert(!Files.exists(stale), "a stale orphan must be reclaimed")
    assert(Files.exists(fresh), "a fresh version file may be a publish in flight")
    val target = dir.resolve(Files.readSymbolicLink(dir.resolve("_namespace.json")))
    assert(Files.exists(target))
    assert(s.loadNamespace("db") === Map("owner" -> "you"))
    assert(names(dir).filter(_.startsWith("._namespace.json.v-")) ===
      Set(target.getFileName.toString, fresh.getFileName.toString))
  }
}
