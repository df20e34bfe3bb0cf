package graft.catalog

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftBootstrap, SparkFixture}

/** Row-level DML through `SupportsRowLevelOperations`: UPDATE, MERGE
  * INTO and row-predicate DELETE as group-based copy-on-write at
  * partition granularity — plus the group-filtering property that makes
  * it scale: partitions without matches are not rewritten (their files
  * are bit-for-bit untouched), and partition-predicate DELETEs still
  * take the metadata-only path. */
class RowLevelSpec extends AnyFunSuite with SparkFixture {

  private val ns = s"${GraftBootstrap.CatalogName}.rltest"

  private def freshTable(name: String): String = {
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    val t = s"$ns.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    t
  }

  /** (path → (length, mtime)) for every data file of the table — the
    * fingerprint an untouched partition must preserve exactly. */
  private def fileState(t: String): Map[String, (Long, Long)] = {
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val meta = cat.metaStore.loadTable(ns.split("\\.")(1), t.split("\\.").last)
    val conf = spark.sessionState.newHadoopConf()
    def files(dir: Path): Seq[(String, (Long, Long))] = {
      def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
      val fs = dir.getFileSystem(conf)
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.flatMap {
        // hidden DIRS are engine metadata (snapshot manifests, retirement
        // areas, txn logs) — this helper states DATA-file contracts
        case s if s.isDirectory && !hidden(s.getPath.getName) => files(s.getPath)
        case s if s.isFile && !hidden(s.getPath.getName) =>
          Seq(s.getPath.toString -> (s.getLen, s.getModificationTime))
        case _ => Nil
      }
    }
    files(new Path(meta.location)).toMap
  }

  private def seed(t: String): Unit = {
    import spark.implicits._
    Seq(
      (1L, 10.0, "a"), (2L, 20.0, "a"),
      (3L, 30.0, "b"), (4L, 40.0, "b"),
      (5L, 50.0, "c")
    ).toDF("id", "v", "p").writeTo(t).partitionedBy($"p").create()
  }

  test("row-level DML works on EVERY provider, avro included (q104 closes the matrix)") {
    import spark.implicits._
    // orc rides the same COW machinery as parquet (the round-16 review
    // found the dispatch missing it — an internal error, not a refusal)
    val t = freshTable("t_update_orc")
    Seq((1L, 10.0, "a"), (2L, 20.0, "b"))
      .toDF("id", "v", "p").writeTo(t).using("orc").partitionedBy($"p").create()
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE id = 1")
    assert(spark.table(t).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet === Set((1L, 11.0), (2L, 20.0)))
    spark.sql(s"MERGE INTO $t tgt USING (SELECT 2L AS id, 99.0 AS v) s " +
      "ON tgt.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v")
    assert(spark.table(t).filter($"id" === 2L).head().getDouble(1) === 99.0)
    // avro (q104): the rewrite reads through the generic
    // FileFormat-backed DSv2 scan (q101's read path) and writes through
    // the V1 AvroFileFormat delegate — UPDATE / DELETE / MERGE all work,
    // on unpartitioned AND partitioned avro tables, and untouched
    // partitions keep their files
    val ta = freshTable("t_update_avro")
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v").writeTo(ta).using("avro").create()
    spark.sql(s"UPDATE $ta SET v = 0 WHERE id = 1")
    assert(spark.table(ta).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet === Set((1L, 0.0), (2L, 20.0)))
    spark.sql(s"DELETE FROM $ta WHERE id = 2")
    assert(spark.table(ta).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet === Set((1L, 0.0)))
    val tap = freshTable("t_update_avro_part")
    Seq((1L, 10.0, "a"), (2L, 20.0, "a"), (3L, 30.0, "b"))
      .toDF("id", "v", "p").writeTo(tap).using("avro").partitionedBy($"p").create()
    val before = fileState(tap)
    spark.sql(s"MERGE INTO $tap tgt USING (SELECT 2L AS id, 99.0 AS v) s " +
      "ON tgt.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v")
    assert(spark.table(tap).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet ===
      Set((1L, 10.0, "a"), (2L, 99.0, "a"), (3L, 30.0, "b")))
    val after = fileState(tap)
    val untouchedB = before.filter(_._1.contains("p=b"))
    assert(untouchedB.forall { case (f, sig) => after.get(f).contains(sig) },
      "the b partition's avro files must survive a rewrite of partition a")
    Seq(t, ta, tap).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("UPDATE rewrites matching rows; untouched partitions keep their files") {
    val t = freshTable("t_update")
    seed(t)
    val before = fileState(t)
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE p = 'a' AND id = 1")
    val rows = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(rows === Set(
      (1L, 11.0, "a"), (2L, 20.0, "a"),
      (3L, 30.0, "b"), (4L, 40.0, "b"), (5L, 50.0, "c")))
    val after = fileState(t)
    // runtime group filtering: only partition a was rewritten — b and c
    // keep their exact files (same path, length, mtime)
    val untouchedBefore = before.filterNot(_._1.contains("p=a"))
    val untouchedAfter = after.filterNot(_._1.contains("p=a"))
    assert(untouchedAfter === untouchedBefore)
    assert(after.keySet.filter(_.contains("p=a")) !=
      before.keySet.filter(_.contains("p=a")))
  }

  test("UPDATE on a TIMESTAMP-partitioned table keeps the other partitions' files; the null partition is rewritten") {
    val t = freshTable("t_update_ts")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v DOUBLE, ts TIMESTAMP) PARTITIONED BY (ts)")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 10.0, TIMESTAMP'2024-01-01 00:00:00'), (2, 20.0, TIMESTAMP'2024-01-01 00:00:00'), " +
      "(3, 30.0, TIMESTAMP'2024-01-02 00:00:00'), (4, 40.0, NULL)")
    def values = spark.table(t).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val before = fileState(t)
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE ts = TIMESTAMP'2024-01-01 00:00:00' AND id = 1")
    assert(values === Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0))
    val after = fileState(t)
    val untouched = before.filterNot(_._1.contains("ts=2024-01-01"))
    assert(untouched.size === 2 && untouched.forall { case (f, sig) => after.get(f).contains(sig) },
      s"only the matching timestamp partition may be rewritten: $before -> $after")
    assert(after.keySet.filter(_.contains("ts=2024-01-01")) !=
      before.keySet.filter(_.contains("ts=2024-01-01")))
    // the group filter's value set holds null for a match in the null
    // partition: that partition must be read and rewritten, not pruned
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE id = 4")
    assert(values === Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0, 4L -> 41.0))
  }

  test("row-predicate DELETE removes rows; emptied partitions deregister") {
    val t = freshTable("t_rowdel")
    seed(t)
    val before = fileState(t)
    // not a partition predicate → copy-on-write path
    spark.sql(s"DELETE FROM $t WHERE v >= 30 AND v < 50")
    val rows = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(rows === Set((1L, "a"), (2L, "a"), (5L, "c")))
    // partition b lost every row: dir gone, partition deregistered
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val meta = cat.metaStore.loadTable("rltest", "t_rowdel")
    assert(!meta.partitions.exists(_.spec.get("p").contains("b")))
    // partitions a and c had no matches — untouched files
    val untouched = (s: Map[String, (Long, Long)]) =>
      s.filter(kv => kv._1.contains("p=a") || kv._1.contains("p=c"))
    assert(untouched(fileState(t)) === untouched(before))
  }

  test("DELETE with a non-translatable predicate (marker-carrying rewrite)") {
    // Spark 4.1.2 keeps the __row_operation marker column on a
    // group-based DELETE whose condition is not filter-translatable
    // (`id % 2 = 1`), unlike translatable predicates which deliver bare
    // table rows — the exact shape that crashed q54 in round 10. The
    // CowRowFactory must accept both.
    val t = freshTable("t_rowdel_mod")
    seed(t)
    spark.sql(s"DELETE FROM $t WHERE id % 2 = 1 AND v < 45")
    val rows = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    // ids 1 and 3 are odd with v<45; id 5 is odd but v=50 survives
    assert(rows === Set((2L, 20.0, "a"), (4L, 40.0, "b"), (5L, 50.0, "c")))
  }

  test("partition-predicate DELETE still takes the metadata-only path") {
    val t = freshTable("t_metadel")
    seed(t)
    val before = fileState(t)
    spark.sql(s"DELETE FROM $t WHERE p = 'b'")
    assert(spark.table(t).count() === 3)
    // metadata-only: a and c files untouched (no rewrite happened at all)
    val untouched = (s: Map[String, (Long, Long)]) =>
      s.filterNot(_._1.contains("p=b"))
    assert(untouched(fileState(t)) === untouched(before))
  }

  test("MERGE INTO: update + delete + insert in one statement") {
    import spark.implicits._
    val t = freshTable("t_merge")
    seed(t)
    val before = fileState(t)
    Seq(
      (1L, 100.0, "a", "update"),
      (3L, 0.0, "b", "delete"),
      (6L, 60.0, "c", "insert"),   // existing partition, no target match
      (7L, 70.0, "d", "insert")    // brand-new partition
    ).toDF("id", "v", "p", "op").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $t tgt USING merge_src src ON tgt.id = src.id
         |WHEN MATCHED AND src.op = 'delete' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = src.v
         |WHEN NOT MATCHED THEN INSERT (id, v, p) VALUES (src.id, src.v, src.p)
         |""".stripMargin)
    val rows = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(rows === Set(
      (1L, 100.0, "a"), (2L, 20.0, "a"),
      (4L, 40.0, "b"),
      (5L, 50.0, "c"), (6L, 60.0, "c"),
      (7L, 70.0, "d")))
    // partition d materialized and registered
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val meta = cat.metaStore.loadTable("rltest", "t_merge")
    assert(meta.partitions.exists(_.spec.get("p").contains("d")))
    // partition c was NOT scanned (no id match) — its pre-existing file
    // survives and the insert appended beside it
    val cBefore = before.keySet.filter(_.contains("p=c"))
    val cAfter = fileState(t).keySet.filter(_.contains("p=c"))
    assert(cBefore.subsetOf(cAfter) && cAfter.size > cBefore.size)
  }

  test("UPDATE on an unpartitioned table rewrites the whole table") {
    import spark.implicits._
    val t = freshTable("t_update_flat")
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v").writeTo(t).create()
    spark.sql(s"UPDATE $t SET v = -v WHERE id = 2")
    val rows = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows === Set((1L, 10.0), (2L, -20.0)))
  }

  test("composite bucketed table: partition DELETE is metadata-only; COW rewrites preserve the layout") {
    import spark.implicits._
    val t = freshTable("t_bucketed_rl")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v DOUBLE, p STRING) USING parquet " +
      "PARTITIONED BY (p) CLUSTERED BY (id) INTO 4 BUCKETS")
    spark.sql(s"ALTER TABLE $t ADD PARTITION (p = 'a')")
    // Spark plans the row-level rewrite for every conditional DELETE
    // before the metadata-only downgrade — this statement must run as a
    // pure partition drop (no rewrite executes for it)
    spark.sql(s"DELETE FROM $t WHERE p = 'a'")
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    assert(cat.metaStore.loadTable("rltest", "t_bucketed_rl").partitions.isEmpty)
    // a genuine COW rewrite (UPDATE / row-predicate DELETE) routes
    // through the same required distribution as any write (q103), so it
    // succeeds AND the rewritten files still satisfy the layout
    Seq((1L, 1.0, "b"), (2L, 2.0, "b"), (3L, 3.0, "c")).toDF("id", "v", "p")
      .writeTo(t).append()
    spark.sql(s"UPDATE $t SET v = -v WHERE id = 2")
    spark.sql(s"DELETE FROM $t WHERE id = 3")
    assert(spark.table(t).collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      === Set((1L, 1.0), (2L, -2.0)))
    val meta = cat.metaStore.loadTable("rltest", "t_bucketed_rl")
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val BucketName = "^part-(\\d+)-".r
    fs.listStatus(loc).filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .foreach { d =>
        fs.listStatus(d.getPath)
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
          .foreach { f =>
            val b = BucketName.findFirstMatchIn(f.getPath.getName)
              .map(_.group(1).toInt).getOrElse(
                fail(s"post-rewrite file ${f.getPath.getName} carries no bucket id"))
            val bad = spark.read.parquet(f.getPath.toString)
              .where(org.apache.spark.sql.functions.pmod(
                org.apache.spark.sql.functions.hash($"id"),
                org.apache.spark.sql.functions.lit(4)) =!= b)
            assert(bad.count() === 0,
              s"${d.getPath.getName}/${f.getPath.getName}: rows outside bucket $b")
          }
      }
  }

  test("COW commit detects a write that landed after the scan listed") {
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationInfo}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val t = freshTable("t_cow_conflict")
    seed(t)
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val tbl = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("rltest"), "t_cow_conflict"))
      .asInstanceOf[GraftTable]
    val op = tbl.newRowLevelOperationBuilder(new RowLevelOperationInfo {
      override def command(): RowLevelOperation.Command = RowLevelOperation.Command.UPDATE
      override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
    }).build()
    // plan-time listing: the scan's file index resolves the read snapshot
    op.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    // a "concurrent append" commits between the listing and job start
    val meta = cat.metaStore.loadTable("rltest", "t_cow_conflict")
    val dirA = write.GraftBatchWrite.partitionDir(meta,
      meta.partitions.find(_.spec.get("p").contains("a")).get.spec)
    val fs = dirA.getFileSystem(spark.sessionState.newHadoopConf())
    val existing = fs.listStatus(dirA).filter(_.isFile)
      .map(_.getPath).find(!_.getName.startsWith("_")).get
    org.apache.hadoop.fs.FileUtil.copy(fs, existing, fs,
      new Path(dirA, "part-injected.parquet"), false, fs.getConf)
    // the rewrite's write job starts and tries to publish
    val batch = op.newWriteBuilder(new LogicalWriteInfo {
      override def queryId(): String = java.util.UUID.randomUUID().toString
      override def schema(): org.apache.spark.sql.types.StructType = meta.schema
      override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
    }).build().toBatch
    batch.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    val e = intercept[IllegalStateException] {
      batch.commit(Array.empty)
    }
    assert(e.getMessage.contains("concurrent write detected"), s"got: ${e.getMessage}")
    batch.abort(Array.empty)
    // the permit was released and the injected data survived
    spark.sql(s"INSERT INTO $t VALUES (9, 90.0, 'c')")
    assert(spark.table(t).where("p = 'a'").count() === 4) // 2 seeded + 2 injected
  }

  private def txnDir(meta: TableMeta): Path =
    new Path(meta.location, write.GraftBatchWrite.TxnDirName)

  private def writeManifest(
      meta: TableMeta, dirs: Seq[Path], files: Seq[Path],
      committed: Boolean,
      writeDirs: Seq[Path] = Nil, keepFiles: Seq[Path] = Nil): Unit = {
    val fs = new Path(meta.location)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(txnDir(meta))
    val id = java.util.UUID.randomUUID().toString
    val out = fs.create(new Path(txnDir(meta), s"$id.pending"), false)
    try out.write(
      (dirs.map(d => s"D\t$d") ++ files.map(f => s"F\t$f") ++
        writeDirs.map(d => s"W\t$d") ++ keepFiles.map(f => s"K\t$f"))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    if (committed)
      fs.create(new Path(txnDir(meta), s"$id.committed"), false).close()
  }

  test("a committed pending-delete manifest is replayed by the next write") {
    val t = freshTable("t_txn_replay")
    seed(t)
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val meta = cat.metaStore.loadTable("rltest", "t_txn_replay")
    val fs = new Path(meta.location)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // crash-after-publish state: a duplicate "old" file the dead rewrite
    // never got to delete, plus its manifest and commit marker
    val dirA = write.GraftBatchWrite.partitionDir(meta,
      meta.partitions.find(_.spec.get("p").contains("a")).get.spec)
    val orig = fs.listStatus(dirA).map(_.getPath)
      .find(p => !p.getName.startsWith("_") && !p.getName.startsWith(".")).get
    val dup = new Path(dirA, "part-crashed-old.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, orig, fs, dup, false, fs.getConf)
    assert(spark.table(t).where("p = 'a'").count() === 4) // duplicates visible
    writeManifest(meta, Seq(dirA), Seq(dup), committed = true)
    // any later write repairs first
    spark.sql(s"INSERT INTO $t VALUES (9, 90.0, 'b')")
    assert(!fs.exists(dup), "repair should have completed the crashed delete")
    assert(spark.table(t).where("p = 'a'").count() === 2)
    assert(fs.listStatus(txnDir(meta)).isEmpty, "txn files should be retired")
  }

  test("an uncommitted manifest with no replacement files is abandoned") {
    val t = freshTable("t_txn_abandon")
    seed(t)
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val meta = cat.metaStore.loadTable("rltest", "t_txn_abandon")
    val fs = new Path(meta.location)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // crash-before-publish state: the manifest lists EVERY live file of
    // the scanned dir (a pre-commit snapshot is a complete listing), no
    // marker, no replacement files — the data must survive
    val dirA = write.GraftBatchWrite.partitionDir(meta,
      meta.partitions.find(_.spec.get("p").contains("a")).get.spec)
    val live = fs.listStatus(dirA).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
    writeManifest(meta, Seq(dirA), live.toSeq, committed = false)
    spark.sql(s"INSERT INTO $t VALUES (9, 90.0, 'b')")
    live.foreach(p => assert(fs.exists(p), s"pre-publish crash must not lose $p"))
    assert(spark.table(t).where("p = 'a'").count() === 2)
    assert(fs.listStatus(txnDir(meta)).isEmpty, "txn files should be retired")
  }

  test("marker-less manifest with a PARTIALLY-missing old set quarantines reversibly") {
    val t = freshTable("t_txn_ambiguous")
    seed(t)
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val meta = cat.metaStore.loadTable("rltest", "t_txn_ambiguous")
    val fs = new Path(meta.location)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the ambiguous state: no marker, SOME listed old files gone — as
    // legacy committed-rewrite residue a destructive rollback would
    // delete committed replacements; as an uncommitted txn a
    // roll-forward would delete live originals. The repair must not
    // DESTROY anything, but it also must not leave the unlisted files
    // reader-visible (duplicate rows on every read): it quarantines
    // them into the hidden txn dir and retires the manifest.
    val dirA = write.GraftBatchWrite.partitionDir(meta,
      meta.partitions.find(_.spec.get("p").contains("a")).get.spec)
    val live = fs.listStatus(dirA).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
    val phantom = new Path(dirA, "part-already-deleted.parquet") // listed, absent
    val unlisted = new Path(dirA, "part-maybe-replacement.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, live.head, fs, unlisted, false, fs.getConf)
    writeManifest(meta, Seq(dirA), live.toSeq :+ phantom, committed = false)
    spark.sql(s"INSERT INTO $t VALUES (9, 90.0, 'b')") // triggers repair, must succeed
    live.foreach(p => assert(fs.exists(p), s"ambiguous repair must not touch $p"))
    // readers no longer see duplicate rows from the unlisted file
    assert(!fs.exists(unlisted), "unlisted file must leave the live dir")
    assert(spark.table(t).where("p = 'a'").count() === 2)
    // ...but it is preserved, restorably, in the quarantine dir: the
    // data file plus a .origin sidecar naming its restore path
    val qAll = fs.listStatus(txnDir(meta)).map(_.getPath)
      .filter(_.getName.endsWith(".quarantine"))
      .flatMap(q => fs.listStatus(q).map(_.getPath))
    val (qSidecars, qFiles) = qAll.partition(_.getName.endsWith(".origin"))
    assert(qFiles.length === 1, "quarantine must hold exactly the unlisted file")
    assert(qSidecars.map(_.getName).toSeq === Seq(s"${qFiles.head.getName}.origin"))
    val origin = {
      val in = fs.open(qSidecars.head)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(new Path(origin) === fs.makeQualified(unlisted),
      "the .origin sidecar must name the original path")
    // the manifest retires as .ambiguous — terminal, so later writes'
    // files can never be swept up by a subsequent repair pass
    val names = fs.listStatus(txnDir(meta)).map(_.getPath.getName)
    assert(!names.exists(_.endsWith(".pending")), "pending manifest must retire")
    assert(names.exists(_.endsWith(".ambiguous")), "record kept for the operator")
    // the retired manifest does not block later writes, and their files
    // stay where they land
    spark.sql(s"INSERT INTO $t VALUES (10, 100.0, 'b')")
    spark.sql(s"INSERT INTO $t VALUES (11, 110.0, 'b')")
    assert(spark.table(t).where("p = 'b'").count() >= 4)
    // operator restore (the legacy-committed interpretation): decode the
    // quarantined name and rename back — the replacement is live again
    fs.rename(qFiles.head, unlisted)
    spark.sql(s"REFRESH TABLE $t") // the rename bypassed Spark's listing cache
    assert(spark.table(t).where("p = 'a'").count() === 4)
  }

  test("marker-less manifest with published replacements is rolled back") {
    val t = freshTable("t_txn_detect")
    seed(t)
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val meta = cat.metaStore.loadTable("rltest", "t_txn_detect")
    val fs = new Path(meta.location)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // crash-between-publish-and-marker: old files listed, replacements
    // (unlisted files) already in the dir. The marker is the commit
    // point — without it the repair cannot know whether the replacement
    // set is COMPLETE (commitJob renames task outputs sequentially), so
    // it must roll back: delete the replacements, keep every old file.
    // Rolling forward on a partial set would permanently lose the rows
    // whose replacement files were never published.
    val dirA = write.GraftBatchWrite.partitionDir(meta,
      meta.partitions.find(_.spec.get("p").contains("a")).get.spec)
    val old = fs.listStatus(dirA).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
    val replacement = new Path(dirA, "part-replacement.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, old.head, fs, replacement, false, fs.getConf)
    writeManifest(meta, Seq(dirA), old.toSeq, committed = false)
    spark.sql(s"INSERT INTO $t VALUES (9, 90.0, 'b')")
    old.foreach(p => assert(fs.exists(p), s"old file $p must survive rollback"))
    assert(!fs.exists(replacement), "crashed rewrite's replacement must be removed")
    assert(spark.table(t).where("p = 'a'").count() === 2)
    assert(fs.listStatus(txnDir(meta)).isEmpty, "txn files should be retired")
  }

  test("rollback covers write-target dirs outside the scanned set") {
    val t = freshTable("t_txn_wdirs")
    seed(t)
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val meta = cat.metaStore.loadTable("rltest", "t_txn_wdirs")
    val fs = new Path(meta.location)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a MERGE that scanned partition a but merge-INSERTed into partition
    // c (unscanned) crashed after publishing: partition a holds a
    // replacement, partition c holds an inserted file beside its
    // pre-existing data. Rollback must remove both crashed files while
    // preserving partition c's K-listed pre-existing file.
    val dirA = write.GraftBatchWrite.partitionDir(meta,
      meta.partitions.find(_.spec.get("p").contains("a")).get.spec)
    val dirC = write.GraftBatchWrite.partitionDir(meta,
      meta.partitions.find(_.spec.get("p").contains("c")).get.spec)
    def live(d: Path) = fs.listStatus(d).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
    val oldA = live(dirA)
    val keepC = live(dirC)
    val replA = new Path(dirA, "part-replacement.parquet")
    val insC = new Path(dirC, "part-merge-insert.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, oldA.head, fs, replA, false, fs.getConf)
    org.apache.hadoop.fs.FileUtil.copy(fs, keepC.head, fs, insC, false, fs.getConf)
    writeManifest(meta, Seq(dirA), oldA.toSeq, committed = false,
      writeDirs = Seq(dirC), keepFiles = keepC.toSeq)
    spark.sql(s"INSERT INTO $t VALUES (9, 90.0, 'b')")
    oldA.foreach(p => assert(fs.exists(p), s"scanned-dir old file $p must survive"))
    keepC.foreach(p => assert(fs.exists(p), s"pre-existing file $p must survive"))
    assert(!fs.exists(replA), "replacement in scanned dir must be removed")
    assert(!fs.exists(insC), "merge-insert in unscanned dir must be removed")
    assert(spark.table(t).where("p = 'a'").count() === 2)
    assert(spark.table(t).where("p = 'c'").count() === 1)
  }

  test("marker-less manifest with missing old files rolls forward, not back") {
    val t = freshTable("t_txn_residue")
    seed(t)
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val meta = cat.metaStore.loadTable("rltest", "t_txn_residue")
    val fs = new Path(meta.location)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // post-commit residue: a rewrite fully committed (old files deleted,
    // replacements live) but its txn cleanup was interrupted, leaving the
    // manifest without its marker. An UNCOMMITTED rewrite can never have
    // a missing F file (old-file deletes only run after the marker), so
    // repair must recognize this as committed and preserve the unlisted
    // replacement files — rolling back here would delete the only copy
    // of the data.
    val dirA = write.GraftBatchWrite.partitionDir(meta,
      meta.partitions.find(_.spec.get("p").contains("a")).get.spec)
    val old = fs.listStatus(dirA).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
    // the replacements are the live data; the manifest's F files are gone
    val replacements = old.map { p =>
      val r = new Path(dirA, s"part-replacement-${p.getName}")
      assert(fs.rename(p, r)); r
    }
    writeManifest(meta, Seq(dirA), old.toSeq, committed = false)
    spark.sql(s"INSERT INTO $t VALUES (9, 90.0, 'b')")
    replacements.foreach(p =>
      assert(fs.exists(p), s"live replacement $p must survive repair"))
    assert(spark.table(t).where("p = 'a'").count() === 2)
    assert(fs.listStatus(txnDir(meta)).isEmpty, "txn files should be retired")
  }

  test("a completed UPDATE leaves no transaction residue") {
    val t = freshTable("t_txn_clean")
    seed(t)
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE id = 1")
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val meta = cat.metaStore.loadTable("rltest", "t_txn_clean")
    val fs = new Path(meta.location)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val td = txnDir(meta)
    assert(!fs.exists(td) || fs.listStatus(td).isEmpty)
  }

  test("DELETE refuses on EXTERNAL tables; UPDATE is allowed") {
    import spark.implicits._
    val t = freshTable("t_ext_rl")
    val dir = java.nio.file.Files.createTempDirectory("graft-ext-rl").toString
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    spark.sql(
      s"CREATE TABLE $t (id BIGINT, v DOUBLE) USING parquet LOCATION '$dir'")
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM $t WHERE v > 1")
    }
    assert(e.getMessage.contains("EXTERNAL"))
    spark.sql(s"UPDATE $t SET v = v * 10 WHERE id = 1")
    val rows = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows === Set((1L, 10.0), (2L, 2.0)))
  }

  test("q94's maintenance invariant composes: repeated incremental merges equal full recompute") {
    import spark.implicits._
    val t = freshTable("q94_compose")
    def stats(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n").as("n_tokens"))
    // three ingest generations with overlapping and fresh sources
    val gen0 = Seq(("a", 3L), ("a", 2L), ("b", 5L)).toDF("source", "n")
    val gen1 = Seq(("b", 1L), ("c", 7L)).toDF("source", "n")
    val gen2 = Seq(("a", 4L), ("c", 1L), ("d", 9L)).toDF("source", "n")
    stats(gen0).writeTo(t).create()
    Seq(gen1, gen2).foreach { g =>
      stats(g).createOrReplaceTempView("q94_compose_batch")
      spark.sql(
        s"""MERGE INTO $t tgt USING q94_compose_batch b
           |ON tgt.source = b.source
           |WHEN MATCHED THEN UPDATE SET
           |  n_docs = tgt.n_docs + b.n_docs,
           |  n_tokens = tgt.n_tokens + b.n_tokens
           |WHEN NOT MATCHED THEN INSERT (source, n_docs, n_tokens)
           |  VALUES (b.source, b.n_docs, b.n_tokens)
           |""".stripMargin)
    }
    val merged = spark.table(t).orderBy($"source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val full = stats(gen0.unionByName(gen1).unionByName(gen2)).orderBy($"source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(merged === full)
    assert(merged.map(_._1) === Seq("a", "b", "c", "d"))
  }
}
