package graft.catalog

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftBootstrap, SparkFixture}
import graft.catalog.write.{GraftBatchWrite, IntentLog}
import graft.operators.{Compaction, Rollback}

/** One publish per commit ([[Snapshots.publish]]): every writer's data
  * registration, stats, deletion vectors and lineage head land in ONE
  * descriptor update. Contracts:
  *
  *  - every commit kind raises the descriptor `seq` and the lineage
  *    version by exactly one, with its usual snapshot kind;
  *  - a crash right after the publish leaves the statement at the
  *    lineage head: rollback undoes exactly it, and every earlier
  *    retained version still travels;
  *  - a crash between the commit marker and the publish is rolled
  *    forward by the repair, which publishes the statement's lineage
  *    head with its token.
  */
class OnePublishSpec extends AnyFunSuite with SparkFixture {

  private val db = "onepub"
  private val ns = s"${GraftBootstrap.CatalogName}.$db"

  private def cat: GraftCatalog = spark.sessionState.catalogManager
    .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]

  private def meta(name: String): TableMeta = cat.metaStore.loadTable(db, name)

  private def conf = spark.sessionState.newHadoopConf()

  /** A fresh `(id BIGINT, v BIGINT, p STRING)` table: `props` are its
    * TBLPROPERTIES, `partitioned` adds `PARTITIONED BY (p)`. */
  private def freshTable(name: String, props: String = "",
      partitioned: Boolean = false): String = {
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    val t = s"$ns.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id BIGINT NOT NULL, v BIGINT, p STRING)" +
      (if (partitioned) " PARTITIONED BY (p)" else "") +
      (if (props.nonEmpty) s" TBLPROPERTIES ($props)" else ""))
    t
  }

  private val Mor = "'graft.dml.mode'='merge-on-read', 'graft.dml.key'='id'"
  private val Positional = "'graft.dml.mode'='merge-on-read'"

  private def insert(t: String, rows: (Long, String)*): Unit =
    spark.sql(s"INSERT INTO $t VALUES " +
      rows.map { case (i, p) => s"($i, ${i * 10}, '$p')" }.mkString(", "))

  private def ids(sql: String): Seq[Long] =
    spark.sql(sql).collect().map(_.getLong(0)).toSeq.sorted

  private def headToken(name: String): String =
    Snapshots.readSnap(conf, meta(name).snapshots.head.file).get.token

  private val Crash = "injected crash"
  private val boom: () => Unit = () => throw new IllegalStateException(Crash)

  /** Run `body`, expecting the injected crash to kill it. */
  private def crashed(body: => Unit): Unit = {
    val e = intercept[Exception](body)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == Crash), e.toString)
  }

  // ---- a crash after the commit point ------------------------------------

  /** INSERT {1}, INSERT {2}, then `stmt` (killed right after its publish
    * when `crash`): the table reads `after`, `VERSION AS OF 1` and a
    * rollback give {1, 2}, and `VERSION AS OF 2` still gives {1}. */
  private def afterPublish(name: String, props: String, partitioned: Boolean,
      crash: Boolean, after: Seq[Long])(stmt: String => Unit): Unit = {
    val t = freshTable(name, props, partitioned)
    insert(t, 1L -> "a")
    insert(t, 2L -> "b")
    if (crash) GraftBatchWrite.crashAfterPublish = Some(boom)
    try if (crash) crashed(stmt(t)) else stmt(t)
    finally GraftBatchWrite.crashAfterPublish = None
    assert(ids(s"SELECT id FROM $t") === after, s"$name: the statement is live")
    assert(ids(s"SELECT id FROM $t VERSION AS OF 1") === Seq(1L, 2L),
      s"$name: versions_back 1 is the pre-statement state")
    assert(ids(s"SELECT id FROM $t VERSION AS OF 2") === Seq(1L),
      s"$name: every earlier retained version still travels")
    Rollback.rollback(spark, t)
    assert(ids(s"SELECT id FROM $t") === Seq(1L, 2L),
      s"$name: the rollback undoes exactly the crashed statement")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  private val statements: Seq[(String, String, Boolean, Seq[Long], String => Unit)] = Seq(
    ("append_cow", "", false, Seq(1L, 2L, 3L), t => insert(t, 3L -> "c")),
    ("append_mor", Mor, false, Seq(1L, 2L, 3L), t => insert(t, 3L -> "c")),
    ("update_cow", "", false, Seq(1L, 30L),
      t => { spark.sql(s"UPDATE $t SET id = 30 WHERE id = 2"); () }),
    ("delete_mor", Mor, false, Seq(1L),
      t => { spark.sql(s"DELETE FROM $t WHERE id = 2"); () }),
    ("overwrite_dynamic", "", true, Seq(1L, 20L), t => {
      import spark.implicits._
      Seq((20L, 200L, "b")).toDF("id", "v", "p").writeTo(t).overwritePartitions()
    }))

  test("a crash right after the publish leaves the statement at the lineage head") {
    statements.foreach { case (name, props, partitioned, after, stmt) =>
      afterPublish(s"crash_$name", props, partitioned, crash = true, after)(stmt)
    }
  }

  test("control: the same statements uncrashed roll back to the pre-statement state") {
    statements.foreach { case (name, props, partitioned, after, stmt) =>
      afterPublish(s"ok_$name", props, partitioned, crash = false, after)(stmt)
    }
  }

  test("a crash between the marker and the publish rolls forward with its lineage head") {
    val t = freshTable("crash_marker")
    insert(t, 1L -> "a")
    insert(t, 2L -> "b")
    val txn = IntentLog.txnDir(meta("crash_marker").location)
    var fired = false
    MetaStore.casTestHook = Some { _ =>
      if (!fired) { fired = true; boom() }
    }
    try crashed(spark.sql(s"UPDATE $t SET id = 30 WHERE id = 2"))
    finally MetaStore.casTestHook = None
    val records = IntentLog.list(txn.getFileSystem(conf), txn).map(_.getPath.getName)
    val token = records.find(_.endsWith(".pending")).map(_.stripSuffix(".pending"))
      .getOrElse(fail(s"no intent record left: $records"))
    assert(records.contains(s"$token.committed"), "the crash came after the marker")
    // the next read repairs it forward
    assert(ids(s"SELECT id FROM $t") === Seq(1L, 30L))
    assert(IntentLog.list(txn.getFileSystem(conf), txn).isEmpty)
    val m = meta("crash_marker")
    assert(m.snapshots.head.kind === "rewrite-dml")
    assert(headToken("crash_marker") === token, "the head carries the statement's token")
    assert(ids(s"SELECT id FROM $t VERSION AS OF 1") === Seq(1L, 2L))
    assert(ids(s"SELECT id FROM $t VERSION AS OF 2") === Seq(1L))
    Rollback.rollback(spark, t)
    assert(ids(s"SELECT id FROM $t") === Seq(1L, 2L))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  // ---- one publish per commit kind --------------------------------------

  /** Run `op` and assert it published the descriptor once, recording one
    * snapshot of `kind`. */
  private def onePublish(name: String, kind: String)(op: => Unit): TableMeta = {
    val before = meta(name)
    op
    val after = meta(name)
    assert(after.seq === before.seq + 1, s"$kind on $name: one descriptor publish")
    assert(after.lastSnapshotVersion === before.lastSnapshotVersion + 1,
      s"$kind on $name: one snapshot")
    assert(after.snapshots.head.version === after.lastSnapshotVersion &&
      after.snapshots.head.kind === kind, s"$kind on $name: the lineage head")
    after
  }

  test("every commit kind publishes the descriptor once") {
    import spark.implicits._
    val t = freshTable("kinds", partitioned = true)
    def df(rows: (Long, String)*) = rows.map { case (i, p) => (i, i * 10, p) }
      .toDF("id", "v", "p")
    onePublish("kinds", "append")(df(1L -> "a", 2L -> "b").writeTo(t).append())
    onePublish("kinds", "truncate")(df(1L -> "a", 2L -> "b").writeTo(t).overwrite(lit(true)))
    onePublish("kinds", "overwrite")(df(3L -> "a").writeTo(t).overwrite($"p" === "a"))
    onePublish("kinds", "overwrite-dynamic")(df(4L -> "b").writeTo(t).overwritePartitions())
    onePublish("kinds", "rewrite-dml")(spark.sql(s"UPDATE $t SET v = 0 WHERE id = 3"))
    onePublish("kinds", "delete")(spark.sql(s"DELETE FROM $t WHERE p = 'a'"))
    df(5L -> "c").writeTo(t).append()
    onePublish("kinds", "drop-partition")(spark.sql(s"ALTER TABLE $t DROP PARTITION (p = 'c')"))
    onePublish("kinds", "rollback")(Rollback.rollback(spark, t))
    assert(ids(s"SELECT id FROM $t") === Seq(4L, 5L))

    val k = freshTable("kinds_mor", Mor)
    insert(k, 1L -> "a", 2L -> "a", 3L -> "b")
    onePublish("kinds_mor", "dml-mor")(spark.sql(s"DELETE FROM $k WHERE id = 2"))
    onePublish("kinds_mor", "dml-mor")(spark.sql(
      s"""MERGE INTO $k tgt USING (SELECT * FROM VALUES (1L, 0L, 'a'), (6L, 60L, 'c')
         |  AS s(id, v, p)) s ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(ids(s"SELECT id FROM $k") === Seq(1L, 3L, 6L))

    val q = freshTable("kinds_pos", Positional)
    insert(q, 1L -> "a", 2L -> "a")
    onePublish("kinds_pos", "dml-mor")(spark.sql(s"UPDATE $q SET v = 0 WHERE id = 2"))
    assert(spark.sql(s"SELECT v FROM $q WHERE id = 2").collect().map(_.getLong(0)).toSeq
      === Seq(0L))

    val s = freshTable("kinds_stream")
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)](
      spark)
    stream.addData((1L, 10L, "a"), (2L, 20L, "b"))
    onePublish("kinds_stream", "append") {
      val query = stream.toDF().toDF("id", "v", "p").writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("kinds_stream_ckpt").toString)
        .toTable(s)
      try query.processAllAvailable() finally query.stop()
    }
    assert(ids(s"SELECT id FROM $s") === Seq(1L, 2L))
    Seq(t, k, q, s).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("partitioned compaction folds deletion vectors and restores sort trust in its one publish") {
    val t = freshTable("compact_mor", s"$Mor, '${GraftCatalog.ClusterByProp}'='id'",
      partitioned = true)
    insert(t, 1L -> "a", 2L -> "a", 3L -> "b", 4L -> "b")
    spark.sql(s"DELETE FROM $t WHERE id IN (2, 3)")
    // a changed declaration drops the marker; compaction restores it
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('${GraftCatalog.ClusterByProp}'='v')")
    assert(meta("compact_mor").deleteVectors.nonEmpty)
    assert(!meta("compact_mor").properties.contains(GraftCatalog.ClusterSortedProp))
    val after = onePublish("compact_mor", "overwrite-dynamic")(Compaction.compact(spark, t))
    assert(after.deleteVectors.isEmpty, "every batch was materialized by the rewrite")
    assert(Snapshots.readSnap(conf, after.snapshots.head.file).get.dvs.isEmpty,
      "the head snapshot records the folded deletion-vector list")
    assert(after.properties.get(GraftCatalog.ClusterSortedProp).contains("true"))
    assert(ids(s"SELECT id FROM $t") === Seq(1L, 4L))
    assert(ids(s"SELECT id FROM $t VERSION AS OF 1") === Seq(1L, 4L))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a compaction that leaves a partition unwritten keeps its batch and the marker unset") {
    val t = freshTable("compact_partial", s"$Mor, '${GraftCatalog.ClusterByProp}'='id'",
      partitioned = true)
    insert(t, 1L -> "a", 2L -> "a", 3L -> "b")
    spark.sql(s"DELETE FROM $t WHERE id = 3")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('${GraftCatalog.ClusterByProp}'='v')")
    val dvs = meta("compact_partial").deleteVectors
    val after = onePublish("compact_partial", "overwrite-dynamic")(Compaction.compact(spark, t))
    // p = 'b' lost every row to the batch: the overwrite wrote nothing
    // there, so its file and the batch that hides it stay live
    assert(after.deleteVectors === dvs)
    assert(!after.properties.contains(GraftCatalog.ClusterSortedProp))
    assert(ids(s"SELECT id FROM $t") === Seq(1L, 2L))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
