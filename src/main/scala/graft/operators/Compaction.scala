package graft.operators

import org.apache.spark.sql.SparkSession

/** In-place small-file compaction for partitioned catalog tables.
  *
  * `compact` rewrites every live partition of `table` with itself via a
  * dynamic-partition overwrite. The engine's write pipeline does the
  * rest: `RequiresDistributionAndOrdering` clusters rows by partition
  * value, so each partition is re-written by one task as few large
  * files, and the commit protocol's staging mode swaps partition dirs
  * atomically at job commit.
  *
  * Why reading and overwriting the SAME table is safe here (and only
  * here): dynamic overwrite has no pre-write delete — writer tasks
  * stage under `_temporary` while reader tasks scan the live partition
  * dirs, and the swap happens at job commit, strictly after every read
  * task finished. A truncate/static overwrite would NOT be safe
  * (its deferred pre-delete runs at job start, deleting the files the
  * readers are about to scan), which is why unpartitioned tables are
  * rejected rather than silently routed through truncate.
  *
  * Concurrency: the whole plan+execute runs under a write-permit LEASE
  * ([[graft.catalog.write.GraftBatchWrite.leaseWritePermit]]). The
  * inner write job's own permit acquisition happens only at job start —
  * AFTER the self-scan's file listing at plan time — so without the
  * lease a concurrent append could commit between listing and
  * overwrite and be silently erased by the rewrite. Holding the permit
  * from before the listing until after the commit closes that window:
  * concurrent writers either commit first (their files are listed and
  * rewritten) or queue behind the compaction.
  *
  * One commit, one publish: the self-overwrite's own descriptor update
  * carries everything compaction changes. Because the rewrite read the
  * table through the deletion-vector anti-join, a batch none of whose
  * `appliesTo` files is live after the overwrite is materialized, and
  * the commit drops it (its dv dir is reclaimed by snapshot GC once no
  * retained snapshot references it; batches still touching a partition
  * the overwrite left alone stay). And when the overwrite rewrote every
  * registered partition, every file is freshly written by the engine's
  * sorted write path, so the commit restores the sort-trust marker of a
  * table with declared cluster columns (the cure for an ALTER-changed
  * declaration). A partition compaction wrote no rows to (every row
  * deleted) keeps its files and its batches, and the marker then stays
  * unset.
  *
  * 100 TB posture: compaction is a per-partition rewrite — cost scales
  * with the data actually rewritten, the shuffle key is the partition
  * value, and running it per freshly-ingested partition (not the whole
  * table) is the intended maintenance cadence.
  */
object Compaction {

  def compact(spark: SparkSession, table: String): Unit = {
    val parts = table.split("\\.")
    require(parts.length >= 3, s"compact expects catalog.ns.table, got $table")
    val cat = spark.sessionState.catalogManager.catalog(parts.head)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      parts.slice(1, parts.length - 1), parts.last)
    val tbl = cat.loadTable(ident)
    // partitioning() includes the BUCKET transform — dispatch on the
    // identity partition columns (an unpartitioned bucketed table has no
    // partition dirs for dynamic overwrite to swap)
    val identityPartitioned = tbl match {
      case g: graft.catalog.GraftTable => g.meta.isPartitioned
      case _ => tbl.partitioning().nonEmpty
    }
    if (!identityPartitioned) {
      // UNPARTITIONED tables compact via a RELOCATING REWRITE (round 19):
      // dynamic overwrite — the only safe IN-PLACE self-rewrite — needs
      // partition dirs to swap, so the unpartitioned path writes a
      // fresh generation and flips ([[Relocate]]). This is also the
      // unpartitioned FOLD for merge-on-read deletion vectors: the
      // staging read applies them, the flip clears them — without it a
      // one-DELETE unpartitioned MOR table could never UPDATE again.
      compactUnpartitioned(spark, table)
      return
    }
    val location = tbl.properties.get(
      org.apache.spark.sql.connector.catalog.TableCatalog.PROP_LOCATION)
    require(location != null, s"compact($table): table reports no location")
    val timeoutSec = cat match {
      case g: graft.catalog.GraftCatalog => g.writeLockTimeoutSec
      case _ => graft.catalog.GraftConf.WriteLockTimeoutSec.default.get
    }
    val release = graft.catalog.write.GraftBatchWrite.leaseWritePermit(
      spark, location, s"compaction of $table since ${java.time.Instant.now()}",
      timeoutSec)
    try {
      // the overwrite's one commit also drops the deletion vectors it
      // made inert and, when it rewrote every registered partition,
      // restores the sort-trust marker — see the header
      spark.table(table).writeTo(table).overwritePartitions()
    } finally release()
  }

  /** The unpartitioned branch of [[compact]]: a [[Relocate]] rewrite
    * that reads the table through the catalog (deletion vectors applied)
    * into files sized to `spark.sql.files.maxPartitionBytes` — honoring
    * `graft.cluster.by` with a range distribution + within-file sort,
    * which also restores the sort-trust marker. Bucketed declarations
    * take a hash-routed self-overwrite instead: a V1 staged write cannot
    * reproduce the bucket file names, and silently unbucketing would
    * corrupt every SPJ assumption. */
  private def compactUnpartitioned(spark: SparkSession, table: String): Unit = {
    import org.apache.spark.sql.functions.col
    val (plugin, Array(db, name)) =
      graft.catalog.GraftCatalog.resolve(spark, table, "compact")
    val pre = plugin.metaStore.loadTable(db, name)
    require(!pre.external,
      s"compact($table): EXTERNAL tables own their files; refusing to rewrite")
    if (graft.catalog.GraftCatalog.writableBucketSpec(pre).isDefined) {
      // BUCKET-PRESERVING compaction (round 20, the bucketed-MOR fold):
      // the relocating rewrite cannot reproduce hash-routed bucket
      // file names, but the engine's own V2 writer is exactly the
      // machinery every bucketed append uses (shuffle partition id ==
      // bucket id == committer file name) — so the rewrite is a
      // self-TRUNCATE-overwrite: read through the catalog (deletion
      // vectors applied by the anti-join rewrite), replace every file
      // hash-routed; the truncate commit itself clears the now-inert DV
      // batches and restores the sort-trust marker. One file per
      // bucket, every SPJ assumption preserved.
      val release = graft.catalog.write.GraftBatchWrite.leaseWritePermit(
        spark, pre.location,
        s"bucketed compaction of $table since ${java.time.Instant.now()}",
        plugin.writeLockTimeoutSec)
      try {
        // truncate's pre-write retire fires at writer-factory time, and
        // the scan tasks have already executed by then ONLY when AQE
        // eagerly materializes the bucket-routing shuffle inside
        // query.execute() — with spark.sql.adaptive.enabled=false the
        // factory would retire the very files the scan tasks are about
        // to open. Under AQE the write runs as-is (no extra copy); with
        // AQE off the self-read is MATERIALIZED first by an eager local
        // checkpoint (one memory/disk copy of a table that is being
        // fully rewritten anyway; an executor lost mid-write fails the
        // job and the commit protocol's abort/repair handles it like any
        // crashed compaction).
        val aqeOn = spark.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED)
        val snapshot =
          if (aqeOn) spark.table(table)
          else spark.table(table).localCheckpoint(eager = true)
        try {
          snapshot.writeTo(table)
            .overwrite(org.apache.spark.sql.functions.lit(true))
        } finally if (!aqeOn) { snapshot.unpersist(); () }
      } finally release()
      return
    }
    // (multi-column bucket declarations are metadata-only — no physical
    // routing to preserve — so they take the relocating rewrite like any
    // unbucketed table)
    Relocate.rewrite(spark, plugin, db, pre,
      s"unpartitioned compaction of $table since ${java.time.Instant.now()}") { meta =>
      val root = new org.apache.hadoop.fs.Path(meta.location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val bytes = meta.stats.map(_.sizeInBytes).filter(_ > 0).getOrElse(
        if (fs.exists(root)) fs.getContentSummary(root).getLength else 0L)
      val perFile = spark.sessionState.conf.filesMaxPartitionBytes
      val nFiles = math.max(1, math.ceil(bytes.toDouble / perFile).toInt)
      val cluster = graft.catalog.GraftCatalog.clusterColumns(meta.properties)
      val df = spark.table(table)
      if (cluster.isEmpty) Relocate.Staged(df.repartition(nFiles), meta.provider)
      else Relocate.Staged(
        df.repartitionByRange(nFiles, cluster.map(col): _*)
          .sortWithinPartitions(cluster.map(col): _*),
        meta.provider,
        // every file is freshly engine-sorted — the sort-trust marker
        // restores with the rewrite
        m => m.copy(properties = m.properties +
          (graft.catalog.GraftCatalog.ClusterSortedProp -> "true")))
    }
  }
}
