package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.catalog.{GraftCatalog, GraftConf}

/** In-place table FORMAT MIGRATION — the working form of Hive's
  * `ALTER TABLE … SET FILEFORMAT` (the DDL a reference user runs when
  * moving existing ORC/text tables to parquet). Hive's own statement
  * only affects FUTURE writes and leaves every existing partition in
  * its old SerDe (the per-partition format split
  * `HiveFilePartitionReaderFactory` exists to read); this operator
  * instead REWRITES the data once and flips the descriptor, so the
  * table is uniformly in the target format afterwards — the migration
  * people actually want.
  *
  * The rewrite is a [[Relocate]] transaction: under the table's
  * write-permit lease the CURRENT table is read and written to a staging
  * generation beside the table in the target provider, re-partitioned by
  * the declared partition columns and carrying the table's format
  * options (compression, csv sep/header, …) so the post-flip read path —
  * which applies the same properties as options — parses what was
  * written; then ONE descriptor publish flips provider + location +
  * partitions together — a reader resolves either the complete old table
  * or the complete new one, never a mix.
  *
  * The OLD generation is deliberately NOT deleted here: a concurrent
  * reader that resolved the old descriptor before the flip may still be
  * mid-scan over its files (the same reader-safety argument [[Vacuum]]
  * makes), so reclamation is deferred to the age-gated namespace sweep —
  * [[Vacuum.vacuumNamespace]] removes retired generations and crashed
  * staging dirs once older than the retention window. EXTERNAL tables
  * refuse (their files are user-owned, and rewriting them would break
  * the external contract).
  *
  * Location invariant: after migration the table's data lives under the
  * staging name permanently — a table's location is an opaque catalog
  * detail, not a naming contract (DESCRIBE shows it; nothing may parse
  * it). The original `<table>` dir is the retired generation awaiting
  * the sweep.
  *
  * 100 TB posture: cost is ONE full rewrite of the table — the
  * migration IS a data move, there is no cheaper uniform-format end
  * state; per-partition parallelism rides the normal write path, and
  * the permit is held for the duration exactly like a compaction of
  * the whole table. Migrate partition-by-partition cadences can be
  * composed from the same pieces if a table is too hot to lease whole.
  */
object Migrate {

  def toProvider(spark: SparkSession, table: String, provider: String): Unit = {
    val p = provider.toLowerCase
    require(GraftConf.SupportedProviders.contains(p),
      s"migrate($table): unsupported provider $provider " +
        s"(supported: ${GraftConf.SupportedProviders.toSeq.sorted.mkString(", ")})")
    val (plugin, Array(db, name)) = GraftCatalog.resolve(spark, table, "migrate")
    val pre = plugin.metaStore.loadTable(db, name)
    require(!pre.external,
      s"migrate($table): EXTERNAL tables own their files; refusing to rewrite")
    if (pre.provider == p) return // already there — nothing to rewrite
    // the DML declaration must hold in the target provider, as at CREATE
    // and ALTER: positional merge-on-read is parquet-only (elsewhere its
    // row positions do not exist and a DELETE hides every row)
    GraftCatalog.validateDmlMode(pre.properties, pre.schema,
      pre.partitionColumns, table, Some(p))

    Relocate.rewrite(spark, plugin, db, pre,
      s"format migration of $table to $p since ${java.time.Instant.now()}") { meta =>
      // the reader resolves through the CURRENT (old-format) scan path.
      // LAYOUT invariants survive the rewrite: a writable-bucketed
      // table re-routes through repartition(n, bucketCol) — the same
      // HashPartitioning the catalog write path requires, so the V1
      // writer's part-<partitionId> file names carry correct bucket ids
      // and the post-flip bucket-pruned/SPJ scans stay sound (a plain
      // write would keep the bucket PROPERTIES over mis-routed files —
      // a silent wrong-results bug for every later point lookup); a
      // declared graft.cluster.by sort is re-applied within tasks so
      // the row-group-locality layout survives too.
      val df = spark.table(table)
      val routed = GraftCatalog.writableBucketSpec(meta) match {
        case Some((n, bucketCol)) => df.repartition(n, col(bucketCol))
        case None => df
      }
      val clusterCols = GraftCatalog.clusterColumns(meta.properties)
      // partition columns FIRST, mirroring GraftWrite.requiredOrdering:
      // the V1 writer's dynamic-partition path requires ordering by the
      // partition columns and would insert its own (cluster-destroying)
      // sort if ours didn't already satisfy it as a prefix
      Relocate.Staged(
        if (clusterCols.isEmpty) routed
        else routed.sortWithinPartitions(
          (meta.partitionColumns ++ clusterCols).map(col): _*),
        p)
    }
  }
}
