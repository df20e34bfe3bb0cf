package graft.catalog

import org.apache.hadoop.fs.Path

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftBootstrap, SparkFixture}

/** MERGE-ON-READ row-level DML (q119): deletion-vector sidecars instead
  * of copy-on-write partition rewrites. The contracts:
  *
  *  - a MOR DELETE / UPDATE leaves every pre-existing data file
  *    BYTE-IDENTICAL (no rewrite — the write-amplification fix);
  *  - reads apply the vectors (plan-level anti-join) and match the COW
  *    semantics exactly;
  *  - re-inserting a deleted key makes it visible again (per-file
  *    `appliesTo` scoping — the sequencing property);
  *  - time travel / rollback across a DV commit serve each version's
  *    own vector state;
  *  - compaction folds the vectors away and re-opens UPDATE/MERGE.
  */
class MorDmlSpec extends AnyFunSuite with SparkFixture {

  private val ns = s"${GraftBootstrap.CatalogName}.mortest"

  private def cat: GraftCatalog = spark.sessionState.catalogManager
    .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]

  private def meta(t: String): TableMeta =
    cat.metaStore.loadTable(ns.split("\\.")(1), t.split("\\.").last)

  private def freshTable(name: String): String = {
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    val t = s"$ns.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    t
  }

  /** Fingerprint of every DATA file (path → (len, mtime)). */
  private def fileState(t: String): Map[String, (Long, Long)] = {
    val m = meta(t)
    val conf = spark.sessionState.newHadoopConf()
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    def files(dir: Path): Seq[(String, (Long, Long))] = {
      val fs = dir.getFileSystem(conf)
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.flatMap {
        case s if s.isDirectory && !hidden(s.getPath.getName) => files(s.getPath)
        case s if s.isFile && !hidden(s.getPath.getName) =>
          Seq(s.getPath.toString -> (s.getLen, s.getModificationTime))
        case _ => Nil
      }
    }
    files(new Path(m.location)).toMap
  }

  private def createMor(t: String): Unit = {
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT NOT NULL, v DOUBLE, p STRING)
         |PARTITIONED BY (p)
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read', 'graft.dml.key'='id')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 10.0, 'a'), (2, 20.0, 'a'), (3, 30.0, 'b'), (4, 40.0, 'b'), (5, 50.0, 'c')")
  }

  private def rows(t: String): Set[(Long, Double, String)] =
    spark.table(t).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet

  test("MOR DELETE hides rows via a DV sidecar — zero data files touched") {
    val t = freshTable("m_del")
    createMor(t)
    val before = fileState(t)
    spark.sql(s"DELETE FROM $t WHERE id % 2 = 1") // 1, 3, 5
    assert(rows(t) === Set((2L, 20.0, "a"), (4L, 40.0, "b")))
    // the write-amplification contract: every pre-existing data file is
    // untouched (same path, length, mtime); only the DV sidecar appeared
    assert(fileState(t) === before,
      "a merge-on-read DELETE must not rewrite any data file")
    val m = meta(t)
    assert(m.deleteVectors.size === 1)
    assert(m.deleteVectors.head.keys === 3)
    assert(m.deleteVectors.head.keyColumn === "id")
    val dvDir = new Path(m.location, Snapshots.DvDirName)
    assert(dvDir.getFileSystem(spark.sessionState.newHadoopConf()).exists(dvDir))
    // the t$deletes inspection surface: one row per live batch
    val dels = spark.table(s"$ns.`m_del$$deletes`").collect()
    assert(dels.length === 1)
    assert(dels.head.getAs[Long]("keys") === 3L)
    assert(dels.head.getAs[String]("key_column") === "id")
    assert(dels.head.getAs[Long]("applies_to_files") >= 1L)
  }

  test("MOR UPDATE = DV for the old row + appended new row; old files untouched") {
    val t = freshTable("m_upd")
    createMor(t)
    val before = fileState(t)
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE id <= 2")
    assert(rows(t) === Set(
      (1L, 11.0, "a"), (2L, 21.0, "a"),
      (3L, 30.0, "b"), (4L, 40.0, "b"), (5L, 50.0, "c")))
    val after = fileState(t)
    before.foreach { case (path, fp) =>
      assert(after.get(path).contains(fp),
        s"pre-existing file $path must be untouched by a MOR UPDATE")
    }
    assert(after.size > before.size, "the updated rows append as new files")
    assert(meta(t).deleteVectors.size === 1)
  }

  test("re-inserting a deleted key makes it visible (per-file appliesTo scoping)") {
    val t = freshTable("m_reinsert")
    createMor(t)
    spark.sql(s"DELETE FROM $t WHERE id = 3")
    assert(!rows(t).exists(_._1 == 3L))
    spark.sql(s"INSERT INTO $t VALUES (3, 99.0, 'b')")
    assert(rows(t).contains((3L, 99.0, "b")),
      "a key re-inserted AFTER its delete lives in a file no batch " +
        "applies to and must be visible")
    // and the original row stays hidden: count of id=3 is exactly 1
    assert(spark.table(t).where("id = 3").count() === 1)
  }

  test("time travel across a DV commit serves each version's own vector state") {
    val t = freshTable("m_travel")
    createMor(t)
    spark.sql(s"DELETE FROM $t WHERE p = 'a' AND id = 1 OR id = 5")
    // head: deletes applied
    assert(rows(t) === Set((2L, 20.0, "a"), (3L, 30.0, "b"), (4L, 40.0, "b")))
    // versions_back 1 = before the DELETE: all five rows, no vectors
    val v1 = spark.sql(s"SELECT * FROM $t VERSION AS OF 1").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(v1.size === 5)
    // a later append does not disturb the DV'd snapshot
    spark.sql(s"INSERT INTO $t VALUES (6, 60.0, 'c')")
    val v1b = spark.sql(s"SELECT * FROM $t VERSION AS OF 1").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(v1b === Set((2L, 20.0), (3L, 30.0), (4L, 40.0)),
      "VERSION AS OF 1 (the post-DELETE state) must apply its dv batch")
  }

  test("sys.rollback across a DV commit restores the pre-delete state and drops the batch") {
    val t = freshTable("m_rollback")
    createMor(t)
    spark.sql(s"DELETE FROM $t WHERE id >= 4")
    assert(rows(t).size === 3)
    graft.operators.Rollback.rollback(spark, t)
    assert(rows(t).size === 5, "rollback must undo the MOR DELETE")
    assert(meta(t).deleteVectors.isEmpty,
      "the rolled-back commit's dv batch must leave the descriptor")
  }

  test("compaction folds deletion vectors: entries drop, results unchanged, matrix reopens") {
    val t = freshTable("m_fold")
    createMor(t)
    spark.sql(s"DELETE FROM $t WHERE id IN (2, 4)")
    val expect = rows(t)
    assert(meta(t).deleteVectors.nonEmpty)
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.compact('$t')")
    assert(meta(t).deleteVectors.isEmpty,
      "compaction rewrites every live partition through the anti-join " +
        "rewrite, so the batches must fold away")
    assert(rows(t) === expect)
    // UPDATE is legal again now that nothing is unfolded
    spark.sql(s"UPDATE $t SET v = 0 WHERE id = 1")
    assert(rows(t).contains((1L, 0.0, "a")))
  }

  test("MOR MERGE: matched-update, matched-delete and not-matched-insert in one delta write") {
    val t = freshTable("m_merge")
    createMor(t)
    val before = fileState(t)
    spark.sql(
      s"""MERGE INTO $t tgt
         |USING (SELECT * FROM VALUES
         |  (1L, 100.0, 'a'), (4L, 0.0, 'b'), (6L, 60.0, 'c')
         |  AS s(id, v, p)) s
         |ON tgt.id = s.id
         |WHEN MATCHED AND s.v = 0.0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v, p) VALUES (s.id, s.v, s.p)
         |""".stripMargin)
    assert(rows(t) === Set(
      (1L, 100.0, "a"), (2L, 20.0, "a"), (3L, 30.0, "b"),
      (5L, 50.0, "c"), (6L, 60.0, "c")))
    val after = fileState(t)
    before.foreach { case (path, fp) =>
      assert(after.get(path).contains(fp),
        s"pre-existing file $path must be untouched by a MOR MERGE")
    }
    // one DV batch for the update's old row + the delete; inserts append
    assert(meta(t).deleteVectors.size === 1)
    assert(meta(t).deleteVectors.head.keys === 2,
      "the MERGE deleted two keys: the updated row's old version and id=4")
  }

  test("refusal matrix (narrowed, round 20): mode-ALTER and nullable key refuse; DML stacks") {
    val t = freshTable("m_refuse")
    createMor(t)
    spark.sql(s"DELETE FROM $t WHERE id = 1")
    // round 20: UPDATE stacks on the live DV (delta read is DV-aware) —
    // and must NOT resurrect the hidden id=1 even though it matches
    spark.sql(s"UPDATE $t SET v = 0 WHERE id <= 2")
    assert(rows(t) === Set(
      (2L, 0.0, "a"), (3L, 30.0, "b"), (4L, 40.0, "b"), (5L, 50.0, "c")))
    val alter = intercept[Exception](spark.sql(
      s"ALTER TABLE $t SET TBLPROPERTIES ('graft.dml.mode'='copy-on-write')"))
    assert(alter.getMessage.contains("deletion-vector"))
    // nullable key refused at CREATE
    val nk = intercept[Exception](spark.sql(
      s"CREATE TABLE ${ns}.m_nullkey (id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES ('graft.dml.mode'='merge-on-read', 'graft.dml.key'='id')"))
    assert(nk.getMessage.contains("NOT NULL"))
    // a further MOR DELETE stacks too, hiding the UPDATE's new row
    spark.sql(s"DELETE FROM $t WHERE id = 2")
    assert(rows(t).size === 3)
    assert(meta(t).deleteVectors.size === 3)
  }

  test("stacked ladder: DELETE → UPDATE → MERGE with no intervening compaction") {
    val t = freshTable("m_stack")
    createMor(t)
    val before = fileState(t)
    spark.sql(s"DELETE FROM $t WHERE id = 1")
    // UPDATE over the live DV: id=1 matches the predicate but is hidden —
    // a raw-file delta read would re-emit it (resurrection)
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE id <= 3")
    assert(rows(t) === Set(
      (2L, 21.0, "a"), (3L, 31.0, "b"), (4L, 40.0, "b"), (5L, 50.0, "c")))
    // MERGE over two live batches: update 2 (its live version is the
    // UPDATE's appended row), delete 4, insert 6
    spark.sql(
      s"""MERGE INTO $t tgt
         |USING (SELECT * FROM VALUES
         |  (1L, 111.0, 'a'), (2L, 200.0, 'a'), (4L, 0.0, 'b'), (6L, 60.0, 'c')
         |  AS s(id, v, p)) s
         |ON tgt.id = s.id
         |WHEN MATCHED AND s.v = 0.0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED AND s.id != 1 THEN INSERT (id, v, p) VALUES (s.id, s.v, s.p)
         |""".stripMargin)
    assert(rows(t) === Set(
      (2L, 200.0, "a"), (3L, 31.0, "b"), (5L, 50.0, "c"), (6L, 60.0, "c")),
      "hidden id=1 must NOT match the MERGE; id=2 must match exactly once")
    // write-amplification contract held through the whole stack
    val after = fileState(t)
    before.foreach { case (path, fp) =>
      assert(after.get(path).contains(fp),
        s"pre-existing file $path must be untouched by the stacked DML")
    }
    assert(meta(t).deleteVectors.size === 3)
    // travel: each stacked version serves its own vector state
    val v2 = spark.sql(s"SELECT * FROM $t VERSION AS OF 1").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(v2 === Set((2L, 21.0), (3L, 31.0), (4L, 40.0), (5L, 50.0)),
      "VERSION AS OF 1 (post-UPDATE, pre-MERGE) must apply exactly two batches")
    // compaction folds the whole stack, results unchanged
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.compact('$t')")
    assert(meta(t).deleteVectors.isEmpty)
    assert(rows(t) === Set(
      (2L, 200.0, "a"), (3L, 31.0, "b"), (5L, 50.0, "c"), (6L, 60.0, "c")))
  }

  test("partition-predicate DELETE on a MOR table stays metadata-only (no DV)") {
    val t = freshTable("m_metadel")
    createMor(t)
    spark.sql(s"DELETE FROM $t WHERE p = 'c'")
    assert(rows(t).size === 4)
    assert(meta(t).deleteVectors.isEmpty,
      "a partition-spec DELETE takes the SupportsDelete metadata path")
  }

  test("the delta scan statically prunes partitions: a one-partition DELETE scopes its DV to that partition") {
    val t = freshTable("m_prune")
    createMor(t)
    // row-level predicate restricted to partition 'a': the delta scan's
    // pushFilters prunes the other partitions BEFORE listing, so the
    // batch's appliesTo (= the scan's read set) names only a's files —
    // at 100 TB a partition-scoped UPDATE/DELETE reads one partition,
    // not the table, and the read-side anti-join attaches only there
    spark.sql(s"DELETE FROM $t WHERE p = 'a' AND id = 1")
    assert(rows(t) === Set(
      (2L, 20.0, "a"), (3L, 30.0, "b"), (4L, 40.0, "b"), (5L, 50.0, "c")))
    val dv = meta(t).deleteVectors.head
    val conf = spark.sessionState.newHadoopConf()
    val (_, applies, _) =
      graft.catalog.write.DvManifest.read(conf, dv.manifest).get
    assert(applies.nonEmpty && applies.forall(_.contains("p=a")),
      s"the DV must apply only to partition a's files, got: $applies")
  }

  test("bucketed + MOR: DVs hide rows, delta inserts land hash-routed, SPJ zero-exchange after fold") {
    import org.apache.spark.sql.functions.{expr, hash, lit, pmod}
    val t = freshTable("m_bucketed")
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT NOT NULL, v DOUBLE)
         |USING parquet CLUSTERED BY (id) INTO 4 BUCKETS
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read',
         |  'graft.dml.key'='id')""".stripMargin)
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    val before = fileState(t)
    spark.sql(s"DELETE FROM $t WHERE id IN (1, 2)")
    spark.sql(s"UPDATE $t SET v = -1.0 WHERE id IN (10, 11)") // stacks on the live DV
    // write-amplification contract holds on the bucketed layout too
    val after = fileState(t)
    before.foreach { case (path, fp) =>
      assert(after.get(path).contains(fp),
        s"pre-existing bucket file $path must be untouched by MOR DML")
    }
    val got = spark.table(t).collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.size === 98 && !got.contains(1L) && !got.contains(2L))
    assert(got(10L) === -1.0 && got(11L) === -1.0 && got(12L) === 12.0)
    // per-file hash invariant INCLUDING the delta-insert files: every
    // file's name-declared bucket id owns exactly its rows' hash bucket
    val m = meta(t)
    val loc = new Path(m.location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    val files = fs.listStatus(loc).toSeq.collect {
      case s if s.isFile && !hidden(s.getPath.getName) => s.getPath
    }
    val rx = "^part-(\\d+)-".r
    files.foreach { f =>
      val b = rx.findFirstMatchIn(f.getName).map(_.group(1).toInt).getOrElse(
        fail(s"file ${f.getName} does not carry a bucket id"))
      val bad = spark.read.schema(spark.table(t).schema).parquet(f.toString)
        .where(pmod(hash(expr("id")), lit(4)) =!= b)
      assert(bad.count() === 0, s"file ${f.getName}: rows hashed outside bucket $b")
    }
    // compaction folds the vectors through the bucket-preserving rewrite
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.compact('$t')")
    assert(meta(t).deleteVectors.isEmpty,
      "bucketed compaction must fold the DV batches")
    assert(spark.table(t).count() === 98)
    // and SPJ runs zero-exchange again post-fold
    graft.operators.EngineQueries.withSpjConfs(spark) {
      val self = spark.table(t).as("x")
        .join(spark.table(t).as("y"), expr("x.id = y.id"))
      val p = self.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"post-fold bucketed self-join must be zero-exchange:\n$p")
      assert(self.count() === 98)
    }
  }

  test("composite key: tuple-equality DVs hide exactly the tuple; half-matching keys survive") {
    val t = freshTable("m_composite")
    spark.sql(
      s"""CREATE TABLE $t (a BIGINT NOT NULL, b BIGINT NOT NULL, v DOUBLE)
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read',
         |  'graft.dml.key'='a,b')""".stripMargin)
    // tuples chosen so single-column matching would over-delete: (1,1),
    // (1,2), (2,1), (2,2) — deleting (1,1) must keep (1,2) and (2,1)
    spark.sql(s"INSERT INTO $t VALUES (1,1,11.0), (1,2,12.0), (2,1,21.0), (2,2,22.0)")
    val before = fileState(t)
    spark.sql(s"DELETE FROM $t WHERE a = 1 AND b = 1")
    assert(fileState(t) === before, "composite MOR DELETE rewrites nothing")
    def rows2 = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows2 === Set((1L, 2L, 12.0), (2L, 1L, 21.0), (2L, 2L, 22.0)),
      "only the exact TUPLE may hide — half-matching keys must survive")
    // stacked UPDATE on the live DV: must not resurrect (1,1)
    spark.sql(s"UPDATE $t SET v = v + 0.5 WHERE a = 1")
    assert(rows2 === Set((1L, 2L, 12.5), (2L, 1L, 21.0), (2L, 2L, 22.0)))
    // re-insert of the deleted tuple is visible (appliesTo scoping)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 99.0)")
    assert(rows2.contains((1L, 1L, 99.0)))
    // CDC emits the tuple delete exactly once
    val changes = graft.operators.ChangeFeed.changesBetween(spark, t, 3, 2)
      .collect().map(r => (r.getAs[String]("_change_type"),
        r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(changes === Set(("delete", 1L, 1L)), s"got: $changes")
    // nullable / unknown / partition key columns still refuse at DDL
    intercept[Exception](spark.sql(
      s"CREATE TABLE ${ns}.m_comp_bad (a BIGINT NOT NULL, b BIGINT, v DOUBLE) " +
        "TBLPROPERTIES ('graft.dml.mode'='merge-on-read', 'graft.dml.key'='a,b')"))
  }

  test("typed partition pruning: timestamp/date-partitioned MOR DML matches its partition") {
    // Timestamp.toString renders '…00:00:00.0' while the stored spec
    // says '…00:00:00' — the old raw-string comparison pruned the
    // MATCHING partition and the DELETE silently skipped its rows
    // (round-20 ADVICE). Typed evaluation must both (a) still delete the
    // matching rows and (b) still prune the non-matching partition.
    val t = freshTable("m_typed_prune")
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT NOT NULL, v DOUBLE, ts TIMESTAMP)
         |PARTITIONED BY (ts)
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read',
         |  'graft.dml.key'='id')""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 10.0, TIMESTAMP'2024-01-01 00:00:00'), " +
      "(2, 20.0, TIMESTAMP'2024-01-01 00:00:00'), " +
      "(3, 30.0, TIMESTAMP'2024-01-02 00:00:00')")
    spark.sql(
      s"DELETE FROM $t WHERE ts = TIMESTAMP'2024-01-01 00:00:00' AND id = 1")
    val left = spark.table(t).collect().map(_.getLong(0)).toSet
    assert(left === Set(2L, 3L),
      "the typed comparison must NOT prune the matching timestamp partition")
    // and pruning still fires: the DV applies only to the matched
    // partition's files (the 2024-01-02 partition never listed)
    val dv = meta(t).deleteVectors.head
    val conf = spark.sessionState.newHadoopConf()
    val (_, applies, _) =
      graft.catalog.write.DvManifest.read(conf, dv.manifest).get
    assert(applies.nonEmpty && applies.forall(_.contains("ts=2024-01-01")),
      s"the DV must apply only to the matching partition's files: $applies")
  }

  test("range partition pruning: a keyed MOR DELETE over p >= 'b' scopes its DV to the matching partitions") {
    val t = freshTable("m_range_prune")
    createMor(t)
    spark.sql(s"DELETE FROM $t WHERE p >= 'b' AND id IN (3, 5)")
    assert(rows(t) === Set((1L, 10.0, "a"), (2L, 20.0, "a"), (4L, 40.0, "b")))
    val (_, applies, _) = graft.catalog.write.DvManifest.read(
      spark.sessionState.newHadoopConf(), meta(t).deleteVectors.head.manifest).get
    assert(applies.exists(_.contains("p=b")) && applies.exists(_.contains("p=c")) &&
      !applies.exists(_.contains("p=a")),
      s"the DV must apply only to partitions b and c, got $applies")
  }

  test("DV planning lists each directory once per cache epoch, not once per query") {
    val t = freshTable("m_dvcache")
    createMor(t)
    spark.sql(s"DELETE FROM $t WHERE id = 1")
    spark.table(t).count() // first read after the commit: cache misses
    val after1 = graft.plans.ResolveDeletionVectors.physicalListings.get()
    spark.table(t).count()
    spark.table(t).count()
    assert(graft.plans.ResolveDeletionVectors.physicalListings.get() === after1,
      "repeated reads of a DV'd table must plan from the FileStatusCache, " +
        "not re-list every partition directory per query")
    // a commit invalidates: the next read pays fresh listings (bounded
    // staleness — the same epoch rule as the catalog file index)
    spark.sql(s"INSERT INTO $t VALUES (9, 90.0, 'c')")
    spark.table(t).count()
    assert(graft.plans.ResolveDeletionVectors.physicalListings.get() > after1)
  }

  test("changelog read (q120 surface) covers a MOR commit: the DV batch emits its deleted rows") {
    val t = freshTable("m_cdc")
    createMor(t)                                  // v1: seed (5 rows)
    spark.sql(s"DELETE FROM $t WHERE id IN (2, 4)") // v2: MOR delete
    spark.sql(s"INSERT INTO $t VALUES (6, 60.0, 'c')") // v3: append
    val changes = graft.operators.ChangeFeed.changesBetween(spark, t, 2, 0)
      .collect()
      .map(r => (r.getAs[String]("_change_type"),
        r.getAs[Long]("_change_version"), r.getAs[Long]("id")))
      .toSet
    assert(changes === Set(
      ("delete", 2L, 2L), ("delete", 2L, 4L), ("insert", 3L, 6L)),
      s"got: $changes")
  }

  test("MOR works on every provider: orc and avro DELETE/UPDATE round-trip (DV sidecars stay parquet)") {
    Seq("orc", "avro").foreach { provider =>
      val t = freshTable(s"m_prov_$provider")
      spark.sql(
        s"""CREATE TABLE $t (id BIGINT NOT NULL, v DOUBLE, p STRING)
           |USING $provider PARTITIONED BY (p)
           |TBLPROPERTIES ('graft.dml.mode'='merge-on-read',
           |  'graft.dml.key'='id')""".stripMargin)
      spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a'), (2, 20.0, 'a'), (3, 30.0, 'b')")
      val before = fileState(t)
      spark.sql(s"DELETE FROM $t WHERE id = 2")
      assert(rows(t) === Set((1L, 10.0, "a"), (3L, 30.0, "b")),
        s"$provider MOR DELETE")
      assert(fileState(t) === before,
        s"$provider MOR DELETE must not rewrite any data file")
      spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.compact('$t')")
      spark.sql(s"UPDATE $t SET v = v * 2 WHERE id = 1")
      assert(rows(t) === Set((1L, 20.0, "a"), (3L, 30.0, "b")),
        s"$provider MOR UPDATE after fold")
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("a MOR UPDATE killed between FS commit and catalog phase rolls back atomically at the next read") {
    val t = freshTable("m_crash")
    createMor(t)
    val expect = rows(t)
    // die right after the insert files publish and BEFORE the .delta
    // marker — the worst window: without the protocol the new rows
    // would be live while their delete-half never registered
    // (permanent duplicates for an UPDATE)
    graft.catalog.write.GraftBatchWrite.crashAfterFsCommit = Some(() =>
      throw new RuntimeException("injected post-publish crash"))
    try {
      intercept[Exception](spark.sql(s"UPDATE $t SET v = 0 WHERE id = 1"))
    } finally graft.catalog.write.GraftBatchWrite.crashAfterFsCommit = None
    // the next READ repairs: marker absent -> the statement never
    // happened (published inserts swept, DV batch dropped)
    assert(rows(t) === expect,
      "the crashed UPDATE must be invisible — no duplicates, no deletes")
    assert(meta(t).deleteVectors.isEmpty)
    // and the statement re-runs cleanly afterwards
    spark.sql(s"UPDATE $t SET v = 0 WHERE id = 1")
    assert(rows(t).contains((1L, 0.0, "a")))
    assert(spark.table(t).count() === 5)
  }

  test("unpartitioned MOR table: DELETE + re-insert round-trip") {
    val t = freshTable("m_unpart")
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT NOT NULL, v DOUBLE)
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read', 'graft.dml.key'='id')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    val before = fileState(t)
    spark.sql(s"DELETE FROM $t WHERE v > 2.5")
    assert(fileState(t) === before)
    assert(spark.table(t).count() === 2)
    spark.sql(s"INSERT INTO $t VALUES (3, 30.0)")
    assert(spark.table(t).where("id = 3").collect().map(_.getDouble(1)).toSeq
      === Seq(30.0))
    // the unpartitioned FOLD (round 19): compact takes the staged-rewrite
    // path, materializes the deletes into a fresh generation, and
    // re-opens UPDATE — without it a one-DELETE unpartitioned MOR table
    // could never UPDATE again
    assert(meta(t).deleteVectors.nonEmpty)
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.compact('$t')")
    assert(meta(t).deleteVectors.isEmpty,
      "the staged rewrite must fold the vectors")
    assert(spark.table(t).count() === 3) // 1, 2, re-inserted 3
    spark.sql(s"UPDATE $t SET v = 7.0 WHERE id = 1")
    assert(spark.table(t).where("id = 1").head().getDouble(1) === 7.0)
  }

  test("bucketed compaction survives spark.sql.adaptive.enabled=false") {
    // the self-TRUNCATE-overwrite's pre-write retire fires at
    // writer-factory time; without the eager checkpoint the scan tasks
    // would open the just-retired files whenever AQE is not there to
    // materialize the bucket shuffle first — this pins the
    // config-independent fix
    val t = freshTable("m_bucket_noaqe")
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT NOT NULL, v DOUBLE)
         |CLUSTERED BY (id) INTO 4 BUCKETS
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read', 'graft.dml.key'='id')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)")
    spark.sql(s"DELETE FROM $t WHERE id = 2")
    val prior = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.compact('$t')")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
    assert(meta(t).deleteVectors.isEmpty)
    assert(spark.table(t).collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSet === Set((1L, 1.0), (3L, 3.0), (4L, 4.0)))
  }

  test("stacked UPDATE's delta read prunes: the new batch applies only to matching partitions") {
    val t = freshTable("m_upd_prune")
    createMor(t)
    spark.sql(s"DELETE FROM $t WHERE id = 1") // live batch -> UPDATE goes through the rewrite
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE p = 'b'")
    val m = meta(t)
    assert(m.deleteVectors.size === 2)
    val (_, applies, _) = graft.catalog.write.DvManifest.read(
      spark.sessionState.newHadoopConf(), m.deleteVectors.last.manifest).get
    assert(applies.nonEmpty && applies.forall(_.contains("p=b")),
      s"the UPDATE's batch must apply ONLY to partition b's files, got $applies")
    assert(rows(t) === Set((2L, 20.0, "a"), (3L, 31.0, "b"),
      (4L, 41.0, "b"), (5L, 50.0, "c")))
  }

  test("duplicate key columns refuse at DDL") {
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    val e = intercept[Exception](spark.sql(
      s"""CREATE TABLE $ns.m_dupkey (id BIGINT NOT NULL, v DOUBLE)
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read',
         |  'graft.dml.key'='id,ID')""".stripMargin))
    assert(e.getMessage.contains("twice"), e.getMessage)
  }

  /** Hand-write an old-format record under the table's txn dir, aged
    * past the write-lock timeout so a read repairs it like a crashed
    * writer's. */
  private def plantLegacy(m: TableMeta, name: String, lines: Seq[String]): Unit = {
    val f = new Path(graft.catalog.write.IntentLog.txnDir(m.location), name)
    val fs = f.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(f, false)
    try out.write(lines.map(_ + "\n").mkString.getBytes("UTF-8")) finally out.close()
    fs.setTimes(f, System.currentTimeMillis() - 3600L * 1000, -1L)
  }

  private def txnEntries(m: TableMeta): Seq[String] = {
    val dir = graft.catalog.write.IntentLog.txnDir(m.location)
    graft.catalog.write.IntentLog.list(
      dir.getFileSystem(spark.sessionState.newHadoopConf()), dir).map(_.getPath.getName)
  }

  test("a legacy committed .delta record re-registers its DvMeta at the next read") {
    val t = freshTable("m_legacy_delta_fwd")
    createMor(t)
    spark.sql(s"DELETE FROM $t WHERE id = 1")
    val dv = meta(t).deleteVectors.last
    // the crash: marker created, descriptor update never ran
    cat.metaStore.updateTable("mortest", "m_legacy_delta_fwd")(_.copy(deleteVectors = Nil))
    assert(rows(t).exists(_._1 == 1L))
    val m = meta(t)
    val dirA = graft.catalog.write.GraftBatchWrite.partitionDir(m, Map("p" -> "a"))
    val fs = dirA.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(m.location, s"${Snapshots.DvDirName}/.tmp-${dv.token}")
    fs.mkdirs(tmp)
    plantLegacy(m, s"${dv.token}.delta", Seq(
      s"W\t$dirA",
      s"DV\t${new Path(m.location, s"${Snapshots.DvDirName}/${dv.token}")}",
      Seq("DVMETA", dv.token, dv.keyColumn, dv.manifest, dv.keys, dv.createdAtMs).mkString("\t"),
      s"DVTMP\t$tmp"))
    plantLegacy(m, s"${dv.token}.delta.committed", Nil)
    assert(rows(t) === Set((2L, 20.0, "a"), (3L, 30.0, "b"), (4L, 40.0, "b"), (5L, 50.0, "c")),
      "the committed statement's deletes must be live again")
    assert(meta(t).deleteVectors.map(_.token) === Seq(dv.token))
    assert(!fs.exists(tmp), "the scratch dir must be dropped")
    assert(txnEntries(meta(t)).isEmpty)
  }

  test("a legacy .delta record without its marker sweeps the W strays and the DV dir") {
    val t = freshTable("m_legacy_delta_back")
    createMor(t)
    val expect = rows(t)
    val m = meta(t)
    val dirA = graft.catalog.write.GraftBatchWrite.partitionDir(m, Map("p" -> "a"))
    val fs = dirA.getFileSystem(spark.sessionState.newHadoopConf())
    val kept = graft.catalog.write.GraftBatchWrite.dataFiles(dirA, fs.getConf)
    // the crash: an insert file published, a DV batch finalized, no marker
    val stray = new Path(dirA, "part-99999-stray.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, kept.head, fs, stray, false, fs.getConf)
    val token = java.util.UUID.randomUUID().toString
    val dvDir = new Path(m.location, s"${Snapshots.DvDirName}/$token")
    fs.mkdirs(dvDir)
    fs.create(new Path(dvDir, "del-0.parquet")).close()
    plantLegacy(m, s"$token.delta",
      Seq(s"W\t$dirA") ++ kept.map(f => s"K\t$f") ++ Seq(s"DV\t$dvDir"))
    assert(spark.table(t).count() === 5)
    assert(rows(t) === expect)
    assert(!fs.exists(stray), "the unlisted insert file must be swept")
    kept.foreach(f => assert(fs.exists(f), s"a K-listed file must survive: $f"))
    assert(!fs.exists(dvDir), "the DV dir must be swept")
    assert(meta(t).deleteVectors.isEmpty)
    assert(txnEntries(meta(t)).isEmpty)
  }
}
