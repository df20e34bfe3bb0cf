package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.{GraftCatalog, GraftTable, Snapshots}

/** INCREMENTAL APPEND READ (q118) — "process only the rows that arrived
  * since the last run", the training-data pipeline's driving primitive,
  * computed as a pure MANIFEST SET-DIFFERENCE over the q116 snapshot
  * lineage: the files present in the `to` snapshot but not the `from`
  * snapshot are exactly the appended data, so the incremental relation
  * is planned from O(dirs + changed files) metadata with ZERO data
  * listing and zero re-reading of the already-processed corpus — the
  * Iceberg incremental-append-scan shape, re-expressed over the
  * engine's own manifests.
  *
  * Semantics (honest by refusal, like Iceberg's): the range
  * `(from, to]` must be APPEND-ONLY — any overwrite/truncate/DELETE/
  * DML/rewrite commit inside it means "rows added" is no longer
  * well-defined (some may also have been removed), and the read
  * refuses loudly instead of guessing. Streaming epochs in append mode
  * ARE appends, so a micro-batch sink table supports "what did the
  * stream add between these checkpoints". Files are resolved through
  * [[Snapshots.resolve]]'s retirement lookup, so the incremental slice
  * stays readable even after a LATER (post-`to`) overwrite displaced
  * it, within the retention window.
  *
  * Versions are `versions_back` (the `t$snapshots` surface): `from` is
  * the OLDER baseline (exclusive), `to` the newer bound (inclusive,
  * default 0 = the current state).
  */
object IncrementalRead {

  /** The rows appended to `catalog.ns.table` between two retained
    * snapshots, as a plain DataFrame (full column set, partition
    * columns included). */
  def appendedBetween(
      spark: SparkSession,
      table: String,
      fromVersionsBack: Int,
      toVersionsBack: Int = 0): DataFrame = {
    require(fromVersionsBack > toVersionsBack && toVersionsBack >= 0,
      s"appendedBetween($table): need from > to >= 0 in versions_back, " +
        s"got from=$fromVersionsBack to=$toVersionsBack")
    val (plugin, Array(db, name)) =
      GraftCatalog.resolve(spark, table, "appendedBetween")
    val meta = plugin.metaStore.loadTable(db, name)
    // the manifest set-difference, every file resolved to its current
    // physical path (live, or retired by a post-`to` commit)
    val added = Snapshots.addedBetween(
      spark, meta, fromVersionsBack, toVersionsBack)
    val tbl = new GraftTable(plugin, db,
      meta.copy(provider = added.provider, history = Nil, snapshots = Nil),
      timeTravel = true,
      pinned = Some(added))
    org.apache.spark.sql.graft.GraftSqlBridge.tableDF(spark, tbl)
  }
}
