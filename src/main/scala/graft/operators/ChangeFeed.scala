package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, col}

import graft.catalog.{GraftCatalog, GraftTable, Snapshots, TableMeta}
import graft.catalog.write.PositionalRead

/** CHANGELOG READ (q120 — CDC): the rows inserted and deleted between
  * two retained snapshots, emitted as the table's columns plus
  * `_change_type` ('insert' | 'delete') and `_change_version` (the
  * snapshot version that made the change) — `Snapshots.addedBetween`
  * extended past its append-only refusal.
  *
  * Mechanism: a pure MANIFEST walk over each consecutive version pair
  * in the range. Per pair, the per-directory shard diff names the files
  * the commit added and removed; added files read in place, removed
  * files read from their retirement area (removals RETIRE, never
  * delete — the q116 contract — so both sides of an overwrite/DELETE
  * are readable by construction). A merge-on-read commit contributes
  * its deletion-vector batch: deleted rows = the batch's `appliesTo`
  * files semi-joined to its keys; its inserted files surface like any
  * append. Planning cost is O(dirs + changed files) metadata and the
  * scan reads ONLY changed files — at 100 TB, "what changed since v"
  * never rescans the corpus.
  *
  * Declared semantics (the Delta-without-CDF file-granularity contract):
  * a rewrite commit (copy-on-write DML, compaction expressed as
  * overwrite) restates every row of its rewritten files as delete +
  * insert — a VALID changelog (applying it reproduces the table), with
  * churn for rows the rewrite carried unchanged. Append-only ranges
  * reduce to exactly `addedBetween`'s rows (all inserts, zero churn).
  * Ranges crossing a rewrite FLIP (migrate/zorder) refuse — the flip
  * changes representation, not content, and restating a whole
  * generation as churn would be noise presented as change.
  */
object ChangeFeed {

  val ChangeTypeCol = "_change_type"
  val ChangeVersionCol = "_change_version"

  def changesBetween(
      spark: SparkSession,
      table: String,
      fromVersionsBack: Int,
      toVersionsBack: Int = 0,
      /** ROW-GRANULAR restatement (q120b): within each commit, rows the
        * rewrite CARRIED unchanged cancel — deletes become
        * `removed EXCEPT ALL added`, inserts `added EXCEPT ALL removed`
        * (multiset semantics, full-row equality). A 2-row COW UPDATE in
        * a 1000-row file then emits 2 deletes + 2 inserts instead of
        * 1000+1000 — true churn, Delta-CDF-shaped, computed at READ
        * time from the same manifests (no commit-time bookkeeping) at
        * one extra shuffle over the CHANGED files only. The default
        * keeps the declared file-granular restatement (zero shuffles,
        * still a valid changelog). */
      rowGranular: Boolean = false): DataFrame = {
    require(fromVersionsBack > toVersionsBack && toVersionsBack >= 0,
      s"changesBetween($table): need from > to >= 0 in versions_back, " +
        s"got from=$fromVersionsBack to=$toVersionsBack")
    val (plugin, Array(db, name)) =
      GraftCatalog.resolve(spark, table, "changesBetween")
    val meta = plugin.metaStore.loadTable(db, name)
    changesIn(spark, plugin, db, name, table, meta,
      fromVersionsBack, toVersionsBack, rowGranular)
  }

  /** [[changesBetween]] against an ALREADY-LOADED descriptor: the
    * versions-back indices are interpreted against `meta`'s snapshot
    * list, never a re-load. The streaming source uses this — its
    * offsets are ABSOLUTE versions it converts to indices against the
    * descriptor IT loaded, and a writer committing between that load
    * and a second one here would shift every index by one (a batch
    * silently dropping one commit's changes and double-emitting
    * another's). */
  private[graft] def changesIn(
      spark: SparkSession,
      plugin: GraftCatalog,
      db: String,
      name: String,
      table: String,
      meta: TableMeta,
      fromVersionsBack: Int,
      toVersionsBack: Int,
      rowGranular: Boolean): DataFrame = {
    require(meta.snapshots.size > fromVersionsBack,
      s"changesBetween($table): versions_back=$fromVersionsBack is not " +
        s"retained (${math.max(meta.snapshots.size - 1, 0)} prior " +
        s"snapshot(s); see $name$$snapshots)")
    val flips = meta.snapshots.slice(toVersionsBack, fromVersionsBack)
      .filter(_.kind == "rewrite")
    require(flips.isEmpty,
      s"changesBetween($table): the range crosses a rewrite flip " +
        s"(${flips.map(s => s"v${s.version}").mkString(", ")} — migrate/" +
        "zorder/generation rollback changes representation, not content); " +
        "split the range at the flip")

    // one resolve per version in the range (memoizable, but the range is
    // bounded by graft.snapshots.keep): index i is versions_back i
    val resolved: Map[Int, Snapshots.Resolved] =
      (toVersionsBack to fromVersionsBack).map(i =>
        i -> Snapshots.resolve(spark, meta, meta.snapshots(i))).toMap

    def fileKeys(r: Snapshots.Resolved): Map[(String, String), (Snapshots.ResolvedDir, org.apache.hadoop.fs.FileStatus)] =
      r.dirs.flatMap(rd =>
        rd.files.map(f => (rd.dir, f.getPath.getName) -> (rd, f))).toMap

    def pinnedDf(
        sel: Map[(String, String), (Snapshots.ResolvedDir, org.apache.hadoop.fs.FileStatus)],
        dvs: Seq[graft.catalog.DvMeta],
        positional: Boolean = false): DataFrame = {
      val dirs = sel.toSeq.groupBy(_._2._1.dir).map { case (dir, entries) =>
        val spec = entries.head._2._1.spec
        Snapshots.ResolvedDir(dir, spec, entries.map(_._2._2))
      }.toSeq.sortBy(_.dir)
      val m = meta.copy(history = Nil, snapshots = Nil, deleteVectors = dvs)
      val tbl = new GraftTable(plugin, db,
        if (positional) GraftCatalog.asPositional(m) else m,
        timeTravel = true,
        pinned = Some(Snapshots.Resolved(meta.provider, dirs, dvs)))
      org.apache.spark.sql.graft.GraftSqlBridge.tableDF(spark, tbl)
    }

    val outCols = meta.schema.fieldNames.toSeq
    def tagged(df: DataFrame, tpe: String, version: Long): DataFrame =
      df.select(outCols.map(col) :+
        lit(tpe).as(ChangeTypeCol) :+ lit(version).as(ChangeVersionCol): _*)

    val slices: Seq[DataFrame] =
      (toVersionsBack until fromVersionsBack).flatMap { i =>
        val newerMeta = meta.snapshots(i)
        val newer = resolved(i)
        val older = resolved(i + 1)
        val newerFiles = fileKeys(newer)
        val olderFiles = fileKeys(older)
        val added = newerFiles.view.filterKeys(k => !olderFiles.contains(k)).toMap
        val removed = olderFiles.view.filterKeys(k => !newerFiles.contains(k)).toMap
        // inserts: the commit's new files, read under the NEWER dv state
        // (a same-commit MOR batch never applies to them; later batches
        // in the range surface as their own deletes); deletes from
        // removed files: every row of a retired file (overwrite /
        // partition DELETE / COW rewrite restatement), read under the
        // OLDER dv state so rows already hidden before this commit are
        // not re-deleted. Under `rowGranular`, a commit that BOTH adds
        // and removes (a rewrite) nets the two sides first — carried
        // rows cancel, only true churn survives.
        val insRaw = if (added.isEmpty) None else Some(pinnedDf(added, Nil))
        val delRaw =
          if (removed.isEmpty) None else Some(pinnedDf(removed, older.dvs))
        val (ins, del) = (insRaw, delRaw) match {
          case (Some(a), Some(r)) if rowGranular =>
            (Some(tagged(a.exceptAll(r), "insert", newerMeta.version)),
              Some(tagged(r.exceptAll(a), "delete", newerMeta.version)))
          case _ =>
            (insRaw.map(tagged(_, "insert", newerMeta.version)),
              delRaw.map(tagged(_, "delete", newerMeta.version)))
        }
        // deletes from NEW deletion-vector batches (merge-on-read): the
        // batch's appliesTo files restricted to the older snapshot's
        // live set, semi-joined to its keys
        val olderTokens = older.dvs.map(_.token).toSet
        val dvDels = newer.dvs.filterNot(d => olderTokens.contains(d.token))
          .flatMap { dv =>
            val conf = spark.sessionState.newHadoopConf()
            val (keyCol, applies, _) =
              graft.catalog.write.DvManifest.read(conf, dv.manifest)
                .getOrElse(throw new IllegalStateException(
                  s"changesBetween($table): dv manifest ${dv.manifest} is " +
                    "missing or torn"))
            def qualify(p: org.apache.hadoop.fs.Path): String =
              p.getFileSystem(conf).makeQualified(p).toString
            val appliesQ = applies.map(s =>
              qualify(new org.apache.hadoop.fs.Path(s))).toSet
            val affected = olderFiles.filter { case ((dir, fname), _) =>
              appliesQ.contains(PositionalRead.identity(
                new org.apache.hadoop.fs.Path(dir), fname, conf))
            }
            if (affected.isEmpty) None
            else {
              // the affected files read under the OLDER dv state (rows
              // already hidden before this commit are not re-deleted),
              // semi-joined to this batch's keys on the TUPLE: comma-
              // separated composite keys, or the (_file, _pos) identity
              // the pinned scan serves for a positional batch (q121)
              val keyFields =
                if (keyCol == PositionalRead.Marker) PositionalRead.idFields
                else GraftCatalog.morKeyColumns(keyCol)
                  .map(kc => meta.schema.fields
                    .find(_.name.equalsIgnoreCase(kc)).get)
              var keys = spark.read
                .schema(org.apache.spark.sql.types.StructType(keyFields))
                .parquet(new org.apache.hadoop.fs.Path(dv.manifest)
                  .getParent.toString)
              keyFields.foreach { f =>
                keys = keys.withColumnRenamed(f.name, s"__graft_dv_${f.name}")
              }
              val base = pinnedDf(affected, older.dvs,
                positional = keyCol == PositionalRead.Marker)
              val cond = keyFields
                .map(f => base(f.name) <=> keys(s"__graft_dv_${f.name}"))
                .reduce(_ && _)
              Some(tagged(
                base.join(keys, cond, "left_semi"),
                "delete", newerMeta.version))
            }
          }
        Seq(del, ins).flatten ++ dvDels
      }

    slices.reduceOption(_ unionAll _).getOrElse {
      // an empty range of no-op commits: zero-row frame with the shape
      tagged(org.apache.spark.sql.graft.GraftSqlBridge.tableDF(spark,
        new GraftTable(plugin, db,
          meta.copy(history = Nil, snapshots = Nil, deleteVectors = Nil),
          timeTravel = true,
          pinned = Some(Snapshots.Resolved(meta.provider, Nil)))),
        "insert", 0L).limit(0)
    }
  }
}
