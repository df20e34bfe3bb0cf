package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

import graft.catalog.GraftCatalog
import graft.catalog.write.{GraftBatchWrite, IntentLog}

/** Orphan-file reclamation (`VACUUM`) for catalog tables.
  *
  * A directory-backed table accumulates garbage only through CRASHES —
  * every healthy commit cleans up after itself — so vacuum's job is to
  * reclaim exactly the residue a crash can leave, and nothing else:
  *
  *  1. '''Unregistered partition directories''' (partitioned tables).
  *     The two-phase commit publishes files to the filesystem FIRST,
  *     then registers new partitions in the descriptor
  *     ([[graft.catalog.write.GraftBatchWrite]]). A crash between the
  *     phases leaves a fully-written partition dir the catalog never
  *     learned about: invisible to readers (the file index lists only
  *     registered partitions, [[graft.catalog.GraftFileIndex]]) and
  *     therefore pure dead bytes. Registered truth comes from the
  *     descriptor reloaded UNDER the write permit, so a racing append's
  *     fresh partition is either registered (kept) or the append is
  *     queued behind the permit (its staging lives under `_temporary`,
  *     which the retention window protects).
  *  2. '''`_temporary` staging''' — a crashed/aborted job's committer
  *     leftovers under the table root.
  *  3. '''Resolved transaction residue''' in `_graft_txn`: markers
  *     whose intent record is already retired (inert by the protocol)
  *     and tmp drafts ([[graft.catalog.write.IntentLog.resolvedResidue]]).
  *     Intent records, their live markers and quarantine dirs are
  *     deliberately untouched — they are the repair's input and an
  *     operator's restore evidence, respectively.
  *
  * Retention: nothing younger than `retentionMs` is deleted — the same
  * guard every table format's VACUUM ships (files of an IN-FLIGHT job
  * racing the vacuum are always younger than any sane retention). The
  * whole pass runs under the per-table write permit, so no writer is
  * mid-commit while vacuum classifies.
  *
  * Readers are never affected: every reclaimed class is invisible to
  * the catalog-driven scan path by construction, so a concurrent reader
  * observes the identical row set before, during and after
  * (WritePathSpec gates this).
  *
  * 100 TB posture: cost is one recursive listing of the table tree plus
  * per-orphan deletes — proportional to the partition count, not the
  * data size; the permit is held for the listing+delete only (no data
  * is read or rewritten). Run it on the same maintenance cadence as
  * compaction. The reference connector has no reclamation operator —
  * this surface is required by this engine's own crash model (the
  * reference's Hive tables share the exposure via
  * HiveFileFormatWriteBuilder's two-phase commit but leave GC to
  * external tooling).
  */
object Vacuum {

  /** What one vacuum pass reclaimed. */
  case class Stats(reclaimedFiles: Long, reclaimedBytes: Long)

  /** Default retention: 7 days — long past any job's staging lifetime. */
  val DefaultRetentionMs: Long = 7L * 24 * 3600 * 1000

  def vacuum(spark: SparkSession, table: String,
      retentionMs: Long = DefaultRetentionMs): Stats = {
    require(retentionMs >= 0, s"vacuum($table): negative retention")
    val (plugin, Array(db, name)) = GraftCatalog.resolve(spark, table, "vacuum")
    val store = plugin.metaStore
    val preMeta = store.loadTable(db, name)
    require(!preMeta.external,
      s"vacuum($table): EXTERNAL tables own their files; refusing to delete")

    val release = GraftBatchWrite.leaseWritePermit(
      spark, preMeta.location,
      s"vacuum of $table since ${java.time.Instant.now()}",
      plugin.writeLockTimeoutSec)
    try {
      // registered truth as of holding the permit — no writer can be
      // mid-commit now
      val meta = store.loadTable(db, name)
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(meta.location)
      val fs = root.getFileSystem(conf)
      if (!fs.exists(root)) return Stats(0L, 0L)
      val cutoff = System.currentTimeMillis() - retentionMs

      var files = 0L
      var bytes = 0L
      // ONE recursive walk per candidate gathers the retention signal
      // (the newest mtime anywhere under it — a dir whose listing is old
      // but that received a fresh file counts as fresh) AND the reclaim
      // stats
      def reclaimIfOld(st: FileStatus): Unit = {
        val (newest, fc, bc) = walkStats(fs, st)
        if (newest <= cutoff) {
          files += fc
          bytes += bc
          fs.delete(st.getPath, true)
        }
      }

      // 2. committer staging from crashed/aborted jobs
      val tmpDir = new Path(root, "_temporary")
      if (fs.exists(tmpDir)) reclaimIfOld(fs.getFileStatus(tmpDir))

      // 3. resolved txn residue (never an intent record or its marker —
      // the marker proves the statement committed, so reclaiming it would
      // make the next repair roll a committed statement BACK)
      IntentLog.resolvedResidue(IntentLog.list(fs, IntentLog.txnDir(meta.location)))
        .foreach(reclaimIfOld)

      // 4. snapshot-lineage retention (q116): retained snapshots older
      // than the window expire (the CURRENT state always stays), then
      // the snapshot GC reclaims the manifests, shards and
      // retired-token areas only they referenced — after this, a
      // VERSION/TIMESTAMP AS OF into the expired range refuses loudly
      val (snapFiles, snapBytes) =
        graft.catalog.Snapshots.expire(spark, store, db, name, cutoff)
      files += snapFiles
      bytes += snapBytes

      // 1. unregistered partition dirs (partitioned tables only:
      // unpartitioned listings ARE the truth, nothing to compare)
      if (meta.isPartitioned) {
        // FS-qualify both sides: descriptor locations are stored
        // unqualified (`/x/y`) while listings return `file:/x/y`
        val registered = meta.partitions
          .map(p => fs.makeQualified(GraftBatchWrite.dirOf(meta, p)).toString).toSet
        Relocate.partitionLeaves(fs, root, meta.partitionColumns.size).foreach { st =>
          if (!registered.contains(fs.makeQualified(st.getPath).toString))
            reclaimIfOld(st)
        }
      }
      Stats(files, bytes)
    } finally release()
  }

  /** NAMESPACE-level sweep: reclaims the residue table-scoped VACUUM
    * cannot see because it lives OUTSIDE every table location — the
    * crash and retirement artifacts of [[Relocate]] (unpartitioned
    * compaction, zorder, migrate, generation rollback):
    *
    *  1. '''Relocate staging''' — dirs with a [[Relocate.isStaging]]
    *     name that are not the location of any live table: crashed
    *     staging, and retired generations that were staged once (a
    *     COMMITTED rewrite's staging IS the table's location and is
    *     skipped by the liveness check, never by name).
    *  2. '''Retired generations''' — a dir named exactly like a live
    *     MANAGED table whose descriptor points elsewhere: the original
    *     generation a relocate leaves for in-flight readers and
    *     rollback.
    *
    * Anything else (unknown dirs, `_meta`, `_namespace.json`) is left
    * untouched — the sweep deletes only what the engine's own crash
    * model produces. Liveness compares FS-QUALIFIED paths against every
    * table location AND every registered partition location, so a
    * custom-located partition inside a candidate dir protects it, and
    * is RE-VERIFIED from fresh descriptor loads immediately before each
    * delete — a migration that commits mid-sweep (flipping its staging
    * dir into the live table location) is seen by the recheck, so the
    * sweep can never reclaim just-committed data even with a zero
    * retention window. The same retention cutoff as table vacuum
    * protects an IN-FLIGHT migration's staging (fresh by definition)
    * and readers inside the window.
    *
    * 100 TB posture: one namespace-dir listing + per-candidate
    * recursive stats — cost ∝ table count, never data size. Run beside
    * the table-vacuum cadence. */
  def vacuumNamespace(spark: SparkSession, namespace: String,
      retentionMs: Long = DefaultRetentionMs): Stats = {
    require(retentionMs >= 0, s"vacuumNamespace($namespace): negative retention")
    val (plugin, Array(db)) =
      GraftCatalog.resolve(spark, namespace, "vacuumNamespace", "catalog.ns")
    val store = plugin.metaStore
    require(store.namespaceExists(db), s"no such namespace: $namespace")
    val conf = spark.sessionState.newHadoopConf()
    val nsDir = store.namespaceDir(db)
    val fs = nsDir.getFileSystem(conf)
    if (!fs.exists(nsDir)) return Stats(0L, 0L)
    val cutoff = System.currentTimeMillis() - retentionMs

    // live truth: every table's (qualified) location + custom partition
    // locations + each non-external table's name→location binding.
    // Recomputed from fresh descriptor loads on demand, because the
    // sweep holds NO lease: a migration that COMMITS mid-sweep flips its
    // staging dir from "unreferenced candidate" to "the live table
    // location", and a snapshot taken before that commit would classify
    // just-committed live data as reclaimable.
    def qualify(p: Path): String = p.getFileSystem(conf).makeQualified(p).toString
    def liveness(): (Set[String], Map[String, String]) = {
      val tables = store.listTables(db).map(t => store.loadTable(db, t))
      // IN-WINDOW retired generations are protected by their RETIREMENT
      // time, not their file mtimes: the normal migrate/zorder retires a
      // directory whose data files are months old (long-ingested data),
      // so an mtime-only retention test would reclaim a restore point
      // seconds after the flip and the documented "rollback/time-travel
      // safe within the retention window" guarantee would be zero for
      // cold tables. A generation retired BEFORE the window is
      // legitimately reclaimable (time travel then refuses loudly).
      val inWindowHistory = tables.flatMap(_.history)
        .filter(_.retiredAtMs > cutoff)
        .map(g => qualify(new Path(g.location)))
      val locations =
        (tables.map(t => qualify(new Path(t.location))) ++
          tables.flatMap(_.partitions.flatMap(_.location)).map(l => qualify(new Path(l))) ++
          inWindowHistory)
          .toSet
      val managed = tables.filterNot(_.external)
        .map(t => t.name -> qualify(new Path(t.location))).toMap
      (locations, managed)
    }
    def isCandidate(st: FileStatus,
        live: (Set[String], Map[String, String])): Boolean = {
      val (liveLocations, managedNames) = live
      val name = st.getPath.getName
      val qualified = fs.makeQualified(st.getPath).toString
      st.isDirectory && name != "_meta" &&
        // liveness in EITHER direction: a live location at/under the
        // candidate (it holds live data) or an ANCESTOR of it (the
        // candidate sits inside a table's declared tree — e.g. an
        // EXTERNAL table registered on the namespace dir itself)
        !liveLocations.exists(l =>
          l == qualified || l.startsWith(qualified + "/") ||
            qualified.startsWith(l + "/")) && (
          Relocate.isStaging(name) ||
          managedNames.get(name).exists(_ != qualified))
    }

    var files = 0L
    var bytes = 0L
    val initial = liveness()
    fs.listStatus(nsDir).foreach { st =>
      if (isCandidate(st, initial)) {
        // ONE recursive walk gathers the retention signal AND the
        // reclaim stats — on object stores the listing IS the cost, and
        // a separate age check and size summary would traverse every
        // candidate tree twice
        val (newest, fc, bc) = walkStats(fs, st)
        // RE-VERIFY against fresh descriptors immediately before the
        // delete: the walk above takes time, and a migrate/create that
        // committed since the initial snapshot may have made this dir a
        // live location. Cost ∝ tables, paid once per actual candidate
        // (rare), closing the commit-mid-sweep race without a
        // namespace-wide lease.
        if (newest <= cutoff && isCandidate(st, liveness())) {
          files += fc
          bytes += bc
          fs.delete(st.getPath, true)
        }
      }
    }
    Stats(files, bytes)
  }

  /** One recursive walk: (newest mtime anywhere, file count, byte sum). */
  private def walkStats(
      fs: org.apache.hadoop.fs.FileSystem, st: FileStatus): (Long, Long, Long) =
    if (st.isFile) (st.getModificationTime, 1L, st.getLen)
    else fs.listStatus(st.getPath).foldLeft(
      (st.getModificationTime, 0L, 0L)) { case ((m, f, b), child) =>
        val (cm, cf, cb) = walkStats(fs, child)
        (math.max(m, cm), f + cf, b + cb)
      }
}
