package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession

import graft.catalog.{GraftCatalog, MetaStore, PartitionMeta, Snapshots, TableMeta, TableStats}
import graft.catalog.write.{GraftBatchWrite, IntentLog}

/** GENERATION ROLLBACK — the "oops" lever the relocating rewrite
  * ([[Relocate]]) makes nearly free: compaction, migrate and zorder
  * flip a table to a NEW generation directory and leave the old one on
  * disk until the namespace vacuum's retention window expires, so
  * un-doing a rewrite within the window is a pure descriptor flip back
  * — provider, location, partition registrations, stats and
  * deletion-vector batches restored exactly as retired, NO data
  * movement at any table size. The flip back is itself a [[Relocate]]
  * flip: the generation being rolled AWAY from joins the history in its
  * place, so a rollback is itself rollback-able (redo), bounded at
  * [[TableMeta.MaxHistory]] entries.
  *
  * Refusals keep it honest: no history → nothing to roll back to; a
  * retired generation whose directory the vacuum already reclaimed →
  * refuse loudly (the descriptor must never point at deleted data).
  * Runs under the write-permit lease of BOTH generations' locations'
  * shared scope — concurrent writers to the current generation are
  * excluded for the flip.
  *
  * `t$history` (the metadata relation) lists the same entries with a
  * liveness flag, so the operator can see what is still restorable
  * before calling.
  */
object Rollback {

  /** Roll `catalog.ns.table` back one step in its lineage. When the
    * most recent change was an IN-PLACE commit (append, overwrite,
    * truncate, DELETE, COW DML, streaming epoch), the rollback restores
    * the previous SNAPSHOT's exact file set — appended files retire,
    * retired files rename back — making "undo last night's append" a
    * handful of renames at any table size (q116). When the most recent
    * change was a REWRITE FLIP (compact/migrate/zorder/rollback), the
    * O(1) generation flip restores the retired directory wholesale.
    * Both forms are redo-able (the state rolled away from joins the
    * lineage in its place).
    *
    * `versionsBack > 1` restores a DEEPER retained snapshot directly
    * (the Iceberg `rollback_to_snapshot` shape) — note that repeated
    * one-step rollbacks CANNOT reach it: each rollback is itself a
    * commit, so calling twice is redo, not two-steps-back. Deep
    * restore COMPOSES across rewrite flips (round 19): each
    * `rewrite`-kind snapshot in the range maps to one retired
    * generation, the descriptor flips straight to the matching
    * generation, and the file-level restore runs within its frozen
    * root — `sys.rollback(t, 3)` crosses an intermediate zorder/migrate
    * in one call. Returns (restoredProvider, restoredLocation). */
  def rollback(spark: SparkSession, table: String,
      versionsBack: Int = 1): (String, String) = {
    require(versionsBack >= 1, s"rollback($table): versions_back must be >= 1")
    val (plugin, Array(db, name)) = GraftCatalog.resolve(spark, table, "rollback")
    val store = plugin.metaStore
    val pre = store.loadTable(db, name)
    if (pre.snapshots.size >= 2 && pre.snapshots.head.kind != "rewrite")
      return rollbackSnapshot(spark, plugin, store, db, name, table, versionsBack)
    require(versionsBack == 1,
      s"rollback($table): versions_back=$versionsBack requires a retained " +
        "in-place snapshot lineage (the head change is a rewrite flip — " +
        "roll it back one step first)")
    require(pre.history.nonEmpty,
      s"rollback($table): no retired generation to roll back to " +
        "(history is appended by migrate/zorder/rollback flips)")
    val target = pre.history.head
    val conf = spark.sessionState.newHadoopConf()
    val targetPath = new Path(target.location)
    require(targetPath.getFileSystem(conf).exists(targetPath),
      s"rollback($table): generation ${target.location} was already " +
        "reclaimed by the namespace vacuum; it cannot be restored")

    Relocate.flip(spark, plugin, db, pre,
      s"generation rollback of $table since ${java.time.Instant.now()}") { _ => cur =>
      // the head may have changed under a racing flip — re-resolve and
      // re-check liveness inside the permit
      require(cur.history.nonEmpty, s"rollback($table): history emptied by a concurrent flip")
      val g = cur.history.head
      val gp = new Path(g.location)
      require(gp.getFileSystem(conf).exists(gp),
        s"rollback($table): generation ${g.location} was reclaimed")
      cur.copy(provider = g.provider, location = g.location,
        partitions = g.partitions, stats = g.stats,
        // the generation's OWN batches: its files never materialized
        // the deletes they hide
        deleteVectors = g.deleteVectors,
        history = cur.history.tail)
    }
    (target.provider, target.location)
  }

  /** IN-PLACE rollback: restore the previous snapshot's exact file set.
    * For each directory the target snapshot records: live files the
    * target does not list RETIRE (they are the rolled-back commit's
    * additions), and target files currently in a retirement area rename
    * back into place. Directories registered now but absent from the
    * target retire wholesale. Cost ∝ files that actually changed —
    * renames only, no data rewrite.
    *
    * FAILURE-ATOMIC via an [[IntentLog]] record: every planned move
    * (`M`) plus the complete pre-rollback descriptor (`META`) persist
    * BEFORE the first rename; the record is never marked and is removed
    * only after the one publish of the restored descriptor and the
    * rollback's own snapshot succeeds. An in-JVM failure undoes eagerly; a crash is undone
    * by the next repair — so the rollback fully happened or never
    * happened, and the live table can never be left silently missing
    * rows mid-campaign. Files outside the table root (custom partition
    * LOCATIONs) move into their own dir's ext area, undo-able alike. */
  private def rollbackSnapshot(
      spark: SparkSession,
      plugin: GraftCatalog,
      store: MetaStore,
      db: String,
      name: String,
      table: String,
      versionsBack: Int = 1): (String, String) = {
    val conf = spark.sessionState.newHadoopConf()
    val release = GraftBatchWrite.leaseWritePermit(
      spark, store.loadTable(db, name).location,
      s"snapshot rollback of $table since ${java.time.Instant.now()}",
      plugin.writeLockTimeoutSec)
    try {
      // heal residue of a previously crashed statement FIRST (under the
      // permit), so the state below is always a consistent commit point
      IntentLog.repair(conf, store, db, store.loadTable(db, name))
      // a repair moves files without a seq bump — cached listings would
      // keep planning the swept paths
      graft.plans.ResolveDeletionVectors.invalidateListings()
      // fresh state + resolution INSIDE the permit: no writer can race
      val cur = store.loadTable(db, name)
      require(cur.snapshots.size >= versionsBack + 1,
        s"rollback($table): versions_back=$versionsBack not retained " +
          s"(${math.max(cur.snapshots.size - 1, 0)} prior snapshot(s); " +
          s"see $name$$snapshots)")
      require(cur.snapshots.head.kind != "rewrite",
        s"rollback($table): lineage head changed to a rewrite flip under " +
          "a concurrent operation; re-run")
      val target = cur.snapshots(versionsBack)
      // DEEP restore ACROSS rewrite flips (round 19): the target
      // snapshot RECORDS the table root it was taken under. When that
      // root is not the live one, the matching retired generation (its
      // frozen directory holds the recorded files — in-place commits
      // never touch a retired location) is looked up BY LOCATION in the
      // bounded history — robust to any flip chain, including
      // rollback-of-rollback cancellations — and the descriptor flips
      // straight to it before the file-level restore runs within its
      // root. All under one intent record, so flip+restore stays atomic.
      // refuses loudly if any target file is no longer restorable
      val resolved = Snapshots.resolve(spark, cur, target)
      val sameRoot = resolved.location.isEmpty ||
        Snapshots.qualify(conf, resolved.location) ==
          Snapshots.qualify(conf, cur.location)
      val genIdx: Int =
        if (sameRoot) -1
        else {
          val idx = cur.history.indexWhere(g =>
            Snapshots.qualify(conf, g.location) ==
              Snapshots.qualify(conf, resolved.location))
          require(idx >= 0,
            s"rollback($table): versions_back=$versionsBack crosses a " +
              s"rewrite flip, but the generation at ${resolved.location} " +
              "is no longer in the bounded history — it was evicted")
          val gp = new Path(cur.history(idx).location)
          require(gp.getFileSystem(conf).exists(gp),
            s"rollback($table): generation ${cur.history(idx).location} " +
              "was already reclaimed by the namespace vacuum; it cannot " +
              "be restored")
          idx
        }
      val base: TableMeta =
        if (genIdx < 0) cur
        else {
          val g = cur.history(genIdx)
          cur.copy(provider = g.provider, location = g.location,
            partitions = g.partitions, stats = g.stats)
        }
      require(resolved.provider == base.provider,
        s"rollback($table): snapshot provider ${resolved.provider} does " +
          s"not match generation provider ${base.provider}")
      val token = java.util.UUID.randomUUID().toString
      def hidden(n: String) = n.startsWith("_") || n.startsWith(".")

      // ---- PLAN every move (no filesystem mutation yet) ----------------
      val rootPath = new Path(base.location)
      val qRoot = rootPath.getFileSystem(conf).makeQualified(rootPath).toString
      val moves = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
      val emptiedDirs = scala.collection.mutable.ArrayBuffer.empty[Path]
      def planRetire(p: Path): Unit = {
        moves += p -> Snapshots.retiredPath(conf, base.location, p, token); ()
      }
      val targetDirSet = resolved.dirs.map(d =>
        Snapshots.qualify(conf, d.dir)).toSet
      // dirs registered in the EFFECTIVE state (post-flip for a deep
      // restore) but absent from the target: commits after the target
      // created them — retire their trees. The live pre-rollback
      // generation itself (flips > 0) is untouched: it joins the history
      // for redo, the vacuum reclaims it later (the flip trade).
      val currentDirs: Seq[String] =
        if (base.isPartitioned) base.partitions.map(GraftBatchWrite.dirOf(base, _).toString)
        else Seq(base.location)
      currentDirs.filterNot(d =>
        targetDirSet.contains(Snapshots.qualify(conf, d))).foreach { d =>
        val dir = new Path(d)
        val dfs = dir.getFileSystem(conf)
        if (dfs.exists(dir)) {
          def walk(p: Path): Unit = dfs.listStatus(p).foreach { st =>
            if (st.isFile && !hidden(st.getPath.getName)) planRetire(st.getPath)
            else if (st.isDirectory && !hidden(st.getPath.getName)) walk(st.getPath)
          }
          walk(dir)
          emptiedDirs += dir
        }
      }
      // per target dir: retire extras, restore retirements
      val restoredParts = resolved.dirs.map { rd =>
        val dir = new Path(rd.dir)
        val fs = dir.getFileSystem(conf)
        val qdir = fs.makeQualified(dir).toString
        val targetByName = rd.files.map(f => f.getPath.getName -> f).toMap
        val live =
          if (fs.exists(dir)) fs.listStatus(dir).toSeq
            .filter(s => s.isFile && !hidden(s.getPath.getName))
          else Nil
        live.filterNot(s => targetByName.contains(s.getPath.getName))
          .foreach(s => planRetire(s.getPath))
        targetByName.foreach { case (n, st) =>
          val parent = st.getPath.getParent
          if (parent.getFileSystem(conf).makeQualified(parent).toString != qdir)
            moves += st.getPath -> new Path(dir, n)
        }
        (rd, rd.files.map(_.getLen).sum)
      }

      // ---- intent record FIRST, then execute ----------------------------
      // the record carries the complete pre-rollback descriptor plus
      // every planned move, so any failure below (in-JVM via the catch,
      // a crash via the next repair) reverses to EXACTLY the
      // pre-rollback state — never a half-moved live table, and the
      // token can never be GC'd unrecorded (repair empties it back
      // before any commit's GC runs)
      val record = IntentLog.write(conf, cur.location, token,
        IntentLog.Intent(moves = moves.toSeq, meta = Some(cur)))
      try {
        moves.foreach { case (from, to) =>
          to.getFileSystem(conf).mkdirs(to.getParent)
          require(from.getFileSystem(conf).rename(from, to),
            s"rollback($table): failed to move $from to $to")
        }
        // the rolled-back commit's emptied dirs drop wholesale (their
        // skip shards are advisory and rebuild on the next commit there)
        // — EXCEPT an out-of-root dir, which now holds its own ext
        // retirement area inside (the moves above landed there)
        emptiedDirs.foreach { d =>
          val dfs = d.getFileSystem(conf)
          val q = dfs.makeQualified(d).toString
          if (q.startsWith(qRoot + "/")) { dfs.delete(d, true); () }
        }
        val newParts: Seq[PartitionMeta] =
          if (base.isPartitioned) restoredParts.map { case (rd, size) =>
            val default = GraftBatchWrite.partitionDir(base, rd.spec)
            val qd = Snapshots.qualify(conf, rd.dir)
            val loc =
              if (qd == Snapshots.qualify(conf, default.toString)) None
              else Some(rd.dir)
            PartitionMeta(rd.spec, loc, size)
          }
          else Nil
        // the rollback IS a commit: its one publish records its snapshot,
        // which (a) makes redo possible (versions_back 1 is now the state
        // rolled away from) and (b) records `token` so the retired extras
        // stay resolvable
        val published = Snapshots.publish(conf, store, db, name, "rollback", token,
            resolved.dirs.map(_.dir) ++ currentDirs) { c =>
          val flipped =
            if (genIdx < 0) c
            else c.copy(provider = base.provider, location = base.location,
              // the state rolled away from joins the history for redo;
              // the SKIPPED intermediate generations (newer than the
              // restored one) stay as redo material; the restored
              // generation itself leaves the history — it is live again
              history = (c.asGeneration(System.currentTimeMillis()) +:
                (c.history.take(genIdx) ++ c.history.drop(genIdx + 1)))
                .take(TableMeta.MaxHistory),
              // removing a MIDDLE entry punches a hole in the retained
              // timeline: record its retirement bound so TIMESTAMP AS OF
              // refuses generation proofs below it instead of serving a
              // generation that was not actually live at t (round-20
              // ADVICE — the contiguity assumption no longer holds there)
              properties = c.properties +
                (graft.catalog.GraftCatalog.HistoryPrunedBelowProp ->
                  math.max(
                    graft.catalog.GraftCatalog.historyPrunedBelowMs(c.properties),
                    c.history(genIdx).retiredAtMs).toString))
          flipped.copy(partitions = newParts,
            stats = Some(TableStats(restoredParts.map(_._2).sum, None)),
            // the target snapshot's OWN deletion-vector list restores
            // with its files (q119): rolling back past a MOR DELETE
            // must drop its batch, rolling back TO one must keep it
            deleteVectors = resolved.dvs)
        }
        // COMMIT POINT: only now does the rollback "fully happen". (For
        // a flip-crossing restore, a crash between the descriptor update
        // and this delete orphans the record under the now-retired
        // location — the completed rollback stands; the orphan is
        // reclaimed with its generation.)
        IntentLog.finish(conf, record)
        Snapshots.gc(conf, published)
      } catch { case scala.util.control.NonFatal(t) =>
        // eager in-JVM undo: reverse the executed moves and restore the
        // descriptor — the rollback never happened
        try IntentLog.undo(conf, store, db, record)
        catch { case scala.util.control.NonFatal(u) =>
          t.addSuppressed(u) } // the record stays; the next write repairs
        throw t
      }
      plugin.invalidateTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array(db), name))
      (base.provider, base.location)
    } finally release()
  }
}
