package graft.catalog

import org.apache.hadoop.fs.Path
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftBootstrap, SparkFixture}
import graft.operators.{Compaction, Migrate, Relocate, Rollback, Vacuum, Zorder}

/** The relocating rewrite ([[graft.operators.Relocate]]) behind
  * unpartitioned compaction, Z-order, migrate and the generation flip
  * of rollback. Contracts:
  *
  *  - a flip and its lineage record are ONE descriptor publish, so a
  *    crash after the flip leaves the rewrite at the lineage head and
  *    the next rollback undoes the rewrite, not the commit before it;
  *  - a retired generation keeps its own deletion-vector batches, so
  *    rolling back (or travelling back) across a rewrite of a
  *    merge-on-read table never brings deleted rows back;
  *  - a seeded model test: append, MOR DELETE, the three rewrites and
  *    rollback, with either crash hook fired at random relocate steps,
  *    checked after every step against an in-memory list of states.
  */
class RelocateSpec extends AnyFunSuite with SparkFixture {

  private val db = "reloc"
  private val ns = s"${GraftBootstrap.CatalogName}.$db"

  private def cat: GraftCatalog = spark.sessionState.catalogManager
    .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]

  private def meta(name: String): TableMeta = cat.metaStore.loadTable(db, name)

  /** An unpartitioned merge-on-read table: keyed on `id`, or positional
    * (no declared key). */
  private def freshTable(name: String, keyed: Boolean, props: String = ""): String = {
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    val t = s"$ns.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val key = if (keyed) ", 'graft.dml.key'='id'" else ""
    spark.sql(s"CREATE TABLE $t (id BIGINT NOT NULL, v DOUBLE) " +
      s"TBLPROPERTIES ('graft.dml.mode'='merge-on-read'$key$props)")
    t
  }

  private def insert(t: String, ids: Seq[Long]): Unit =
    spark.sql(s"INSERT INTO $t VALUES " +
      ids.map(i => s"($i, ${i * 1.5})").mkString(", "))

  private def ids(sql: String): Seq[Long] =
    spark.sql(sql).collect().map(_.getLong(0)).toSeq.sorted

  private val rewrites: Seq[(String, String => Unit)] = Seq(
    "zorder" -> (t => Zorder.zorder(spark, t, Seq("id", "v"), 2)),
    "compact" -> (t => Compaction.compact(spark, t)),
    "migrate" -> (t => Migrate.toProvider(spark, t, "orc")))

  private val Crash = "injected relocate crash"

  /** Run `body` with the given relocate failpoint armed ("before",
    * "after" or none); true when the body committed — it returned, or
    * died after the flip. */
  private def crashing(at: String)(body: => Unit): Boolean = {
    val boom: () => Unit = () => throw new IllegalStateException(Crash)
    if (at == "before") Relocate.crashBeforeFlip = Some(boom)
    if (at == "after") Relocate.crashAfterFlip = Some(boom)
    try { body; true }
    catch { case e: IllegalStateException if e.getMessage == Crash => at == "after" }
    finally {
      Relocate.crashBeforeFlip = None
      Relocate.crashAfterFlip = None
    }
  }

  test("a generation rollback restores the rolled-back generation's deletion vectors") {
    // positional merge-on-read is parquet-only, so a positional table
    // does not migrate
    for (keyed <- Seq(true, false); (kind, rewrite) <- rewrites
        if keyed || kind != "migrate") {
      val name = s"dv_${kind}_${if (keyed) "keyed" else "pos"}"
      val t = freshTable(name, keyed)
      insert(t, 1L to 4L)
      spark.sql(s"DELETE FROM $t WHERE id = 2")
      rewrite(t)
      assert(ids(s"SELECT id FROM $t") === Seq(1L, 3L, 4L), s"$name after $kind")
      Rollback.rollback(spark, t)
      assert(meta(name).history.head.deleteVectors.isEmpty,
        s"$name: the rewritten generation folded its batches")
      assert(ids(s"SELECT id FROM $t") === Seq(1L, 3L, 4L),
        s"$name: rolling $kind back must keep the deleted row hidden")
      Rollback.rollback(spark, t)
      assert(ids(s"SELECT id FROM $t") === Seq(1L, 3L, 4L), s"$name: redo")
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("migrate refuses to move a positional merge-on-read table off parquet") {
    val t = freshTable("pos_migrate", keyed = false)
    insert(t, 1L to 4L)
    val e = intercept[IllegalArgumentException](Migrate.toProvider(spark, t, "orc"))
    assert(e.getMessage.contains("parquet-only"), e.getMessage)
    assert(meta("pos_migrate").provider === "parquet")
    spark.sql(s"DELETE FROM $t WHERE id = 3")
    assert(ids(s"SELECT id FROM $t") === Seq(1L, 2L, 4L))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("TIMESTAMP AS OF falls back to a retired generation with its deletion vectors") {
    val t = freshTable("dv_travel", keyed = true, ", 'graft.snapshots.keep'='1'")
    insert(t, 1L to 4L)
    spark.sql(s"DELETE FROM $t WHERE id = 2")
    Thread.sleep(50)
    val at = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    Thread.sleep(50)
    Zorder.zorder(spark, t, Seq("id", "v"), 2)
    // keep = 1 retains only the zorder's own snapshot, so the state at
    // `at` is served by the generation the zorder retired
    assert(meta("dv_travel").snapshots.size === 1)
    assert(ids(s"SELECT id FROM $t TIMESTAMP AS OF '$at'") === Seq(1L, 3L, 4L))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("each relocate and each generation rollback publishes the descriptor once") {
    val t = freshTable("one_publish", keyed = true)
    insert(t, 1L to 4L)
    val steps: Seq[(String, String => Unit)] = rewrites ++ Seq(
      "rollback" -> ((x: String) => { Rollback.rollback(spark, x); () }))
    steps.foreach { case (kind, op) =>
      val before = meta("one_publish")
      op(t)
      val after = meta("one_publish")
      assert(after.seq === before.seq + 1, s"$kind: one descriptor publish")
      assert(after.lastSnapshotVersion === before.lastSnapshotVersion + 1 &&
        after.snapshots.head.kind === "rewrite", s"$kind: the flip is the lineage head")
    }
    assert(ids(s"SELECT id FROM $t") === (1L to 4L))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("repeated rewrites keep the staging name bounded") {
    val t = freshTable("many_rewrites", keyed = true)
    insert(t, 1L to 4L)
    // each staging directory was once named after the previous one, one
    // 46-character suffix per rewrite, until the name passed 255 bytes
    (1 to 6).foreach(_ => Compaction.compact(spark, t))
    val loc = new Path(meta("many_rewrites").location).getName
    assert(loc.startsWith("many_rewrites__migrate_") && Relocate.isStaging(loc) &&
      loc.length === "many_rewrites__migrate_".length + 36, loc)
    assert(ids(s"SELECT id FROM $t") === (1L to 4L))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a crash after the flip leaves the rewrite at the lineage head for rollback") {
    val t = freshTable("crash_flip", keyed = true)
    Seq(1L, 2L, 3L).foreach(i => insert(t, Seq(i)))
    val loc = meta("crash_flip").location
    // before the flip: no commit, and the staging generation is residue
    assert(!crashing("before")(Zorder.zorder(spark, t, Seq("id", "v"), 2)))
    assert(meta("crash_flip").location === loc)
    val nsDir = cat.metaStore.namespaceDir(db)
    val fs = nsDir.getFileSystem(spark.sessionState.newHadoopConf())
    def staged() = fs.listStatus(nsDir).map(_.getPath.getName)
      .filter(n => n.startsWith("crash_flip") && Relocate.isStaging(n)).toSeq
    assert(staged().size === 1)
    Vacuum.vacuumNamespace(spark, ns, retentionMs = 0L)
    assert(staged().isEmpty, "the namespace sweep reclaims crashed staging")
    // after the flip: committed, lineage included
    assert(crashing("after")(Zorder.zorder(spark, t, Seq("id", "v"), 2)))
    assert(meta("crash_flip").snapshots.head.kind === "rewrite")
    Rollback.rollback(spark, t)
    assert(meta("crash_flip").location === loc)
    assert(ids(s"SELECT id FROM $t") === Seq(1L, 2L, 3L),
      "the rollback must undo the zorder, not the append before it")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  // ---- the seeded model test ---------------------------------------------

  private sealed trait Op
  private case class Append(n: Int) extends Op
  private case class Delete(pick: Int) extends Op
  private case class Rewrite(kind: String, crash: String) extends Op
  private case class Undo(crash: String) extends Op

  private val crashGen = Gen.frequency(4 -> "", 1 -> "before", 1 -> "after")
  private val opGen: Gen[Op] = Gen.frequency(
    2 -> Gen.choose(1, 2).map(Append(_)),
    3 -> Gen.choose(0, 1000).map(Delete(_)),
    3 -> Gen.zip(Gen.oneOf("compact", "zorder", "migrate"), crashGen)
      .map { case (k, c) => Rewrite(k, c) },
    2 -> crashGen.map(Undo(_)))

  /** One table state: its rows' ids and its provider. */
  private case class State(ids: Seq[Long], provider: String)

  test("seeded relocate sequences match the state model, crashes included") {
    val steps = 12
    val conf = spark.sessionState.newHadoopConf()
    (1 to 20).foreach { seed =>
      val ops = Gen.listOfN(steps, opGen).pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val keyed = seed % 2 == 0
      val name = s"model_$seed"
      val t = freshTable(name, keyed)
      // newest first; a commit prepends, a rollback's state is the one
      // before the head commit
      var states = List(State(Nil, "parquet")).filter(_ => meta(name).snapshots.nonEmpty)
      insert(t, 1L to 4L)
      states ::= State((1L to 4L), "parquet")
      var next = 5L
      ops.zipWithIndex.foreach { case (op, step) =>
        val where = s"seed $seed (${if (keyed) "keyed" else "positional"}) step " +
          s"$step: $op in ${ops.mkString(", ")}"
        val cur = states.head
        op match {
          case Append(n) =>
            val add = next until next + n
            next += n
            insert(t, add)
            states ::= cur.copy(ids = cur.ids ++ add)
          case Delete(pick) if cur.ids.nonEmpty =>
            val id = cur.ids(pick % cur.ids.size)
            spark.sql(s"DELETE FROM $t WHERE id = $id")
            states ::= cur.copy(ids = cur.ids.filterNot(_ == id))
          case Delete(_) =>
          case Rewrite(kind, crash) =>
            val provider = kind match {
              case "migrate" => if (cur.provider == "parquet") "orc" else "parquet"
              case _ => cur.provider
            }
            if (kind == "migrate" && !keyed)
              intercept[IllegalArgumentException](
                Migrate.toProvider(spark, t, provider)) // parquet-only
            else if (crashing(crash)(kind match {
                case "compact" => Compaction.compact(spark, t)
                case "zorder" => Zorder.zorder(spark, t, Seq("id", "v"), 2)
                case "migrate" => Migrate.toProvider(spark, t, provider)
              })) states ::= cur.copy(provider = provider)
          case Undo(crash) if states.size >= 2 =>
            if (crashing(crash)(Rollback.rollback(spark, t))) states ::= states(1)
          case Undo(_) =>
        }
        assert(ids(s"SELECT id FROM $t") === states.head.ids.sorted, s"current read, $where")
        val m = meta(name)
        assert(m.provider === states.head.provider, s"provider, $where")
        assert(m.snapshots.size === math.min(states.size, Snapshots.DefaultKeep),
          s"lineage depth, $where")
        (1 until m.snapshots.size).foreach { k =>
          assert(ids(s"SELECT id FROM $t VERSION AS OF $k") === states(k).ids.sorted,
            s"VERSION AS OF $k, $where")
        }
      }
      Vacuum.vacuumNamespace(spark, ns, retentionMs = 0L)
      val nsDir = cat.metaStore.namespaceDir(db)
      val fs = nsDir.getFileSystem(conf)
      val live = fs.makeQualified(new Path(meta(name).location)).toString
      val residue = fs.listStatus(nsDir).map(_.getPath)
        .filter(p => p.getName.startsWith(s"${name}__") && Relocate.isStaging(p.getName))
        .map(p => fs.makeQualified(p).toString).filterNot(_ == live)
      assert(residue.isEmpty, s"seed $seed: staging residue after the sweep")
      assert(ids(s"SELECT id FROM $t") === states.head.ids.sorted, s"seed $seed after the sweep")
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
}
