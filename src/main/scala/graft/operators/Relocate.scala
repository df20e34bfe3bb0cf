package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Identifier

import graft.catalog.{GraftCatalog, PartitionMeta, SkipStats, Snapshots, TableMeta}
import graft.catalog.write.GraftBatchWrite

/** THE RELOCATING REWRITE — the one transaction behind unpartitioned
  * [[Compaction]], [[Zorder]], [[Migrate]] and the generation flip of
  * [[Rollback]]: the reference's two-phase commit (files first, then the
  * metastore) in its relocating form. A rewrite writes a complete new
  * generation into a STAGING directory beside the table
  * (`<table>__migrate_<uuid>`) while readers keep resolving the current
  * location; then ONE descriptor publish flips provider, location,
  * partitions, stats and deletion vectors together, retires the current
  * generation (deletion vectors included) into the bounded history and
  * records the flip's `rewrite` snapshot — a reader resolves either the
  * whole old table or the whole new one, and the lineage head always
  * names the flip.
  *
  * Under the table's write-permit lease, in order:
  *  1. reload the descriptor (no writer is mid-commit now);
  *  2. write the rows the operator shaped, in its provider, with the
  *     table's format options (plus parquet blooms for declared bloom
  *     columns), partitioned by the declared partition columns;
  *  3. register partitions from the staged hive layout and write the
  *     skip-stats manifests, so the first post-flip query already skips;
  *  4. publish the flip and its snapshot in one
  *     [[graft.catalog.Snapshots.publish]], the one commit publish every
  *     writer uses.
  *
  * Crash model: before step 4 the table is untouched and the staging
  * directory is unreferenced residue that [[Vacuum.vacuumNamespace]]
  * reclaims by its [[isStaging]] name; after step 4 the rewrite is
  * committed, lineage included. The retired generation stays on disk for
  * in-flight readers and `sys.rollback` until the namespace sweep's
  * retention window passes.
  */
object Relocate {

  /** How a rewrite writes its new generation: the shaped rows, the
    * provider they are written in, and any descriptor edit beyond the
    * relocation itself (applied to the flipped descriptor). */
  case class Staged(
      rows: DataFrame,
      provider: String,
      edit: TableMeta => TableMeta = identity)

  private val StagingInfix = "__migrate_"
  private val StagingName = s".*$StagingInfix[0-9a-f-]{36}".r

  /** Whether a directory name is a relocate staging name — crash residue
    * unless it is (or a history entry is) a table's location. */
  def isStaging(name: String): Boolean = StagingName.matches(name)

  /** Test-only failpoint: fires after the staging generation and its
    * manifests are written, before the flip is published — throwing from
    * it simulates a rewrite killed before its commit point. Never set
    * outside tests. */
  @volatile private[graft] var crashBeforeFlip: Option[() => Unit] = None

  /** Test-only failpoint: fires right after the flip's single publish —
    * throwing from it simulates a rewrite killed after its commit point.
    * Never set outside tests. */
  @volatile private[graft] var crashAfterFlip: Option[() => Unit] = None

  /** Rewrite `pre`'s table into a fresh generation and flip to it:
    * `stage` sees the descriptor reloaded under the lease and says how
    * the rows are shaped and which provider they are written in. */
  def rewrite(spark: SparkSession, plugin: GraftCatalog, db: String,
      pre: TableMeta, holder: String)(stage: TableMeta => Staged): Unit =
    flip(spark, plugin, db, pre, holder) { meta =>
      val root = new Path(meta.location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      // named after the TABLE, not the current directory: a name grown
      // by one suffix per rewrite would pass the filesystem's name limit
      val staging = new Path(root.getParent,
        s"${meta.name}$StagingInfix${java.util.UUID.randomUUID()}")
      val s = stage(meta)
      val writer = s.rows.write.format(s.provider)
        .options(GraftCatalog.optionProps(meta.properties))
        .options(bloomOptions(meta, s.provider))
        .mode("overwrite")
      (if (meta.isPartitioned) writer.partitionBy(meta.partitionColumns: _*)
       else writer).save(staging.toString)
      val depth = meta.partitionColumns.size
      val leaves = partitionLeaves(fs, staging, depth)
      val parts =
        if (depth == 0) Nil
        else leaves.map { d =>
          val fragment = Iterator.iterate(d.getPath)(_.getParent).take(depth)
            .map(_.getName).toSeq.reverse.mkString("/")
          PartitionMeta(GraftBatchWrite.parseFragment(meta, fragment), None,
            fs.getContentSummary(d.getPath).getLength)
        }
      SkipStats.maintainDirs(spark, leaves.map(_.getPath.toString),
        meta.schema, meta.properties, s.provider)
      val size = fs.getContentSummary(staging).getLength
      cur => s.edit(cur.copy(provider = s.provider,
        location = staging.toString,
        partitions = parts,
        stats = cur.stats.map(_.copy(sizeInBytes = size)),
        // the staging read went through the deletion-vector rewrite, so
        // the new generation has the deletes materialized (q119)
        deleteVectors = Nil))
    }

  /** The flip on its own: [[rewrite]]'s steps 1 and 4, and the whole of
    * a generation rollback. Under the lease, `prepare` sees the reloaded
    * descriptor and returns the edit that derives the flipped descriptor
    * from the current one (re-applied if the publish's CAS retries); the
    * current generation joins the history in front of the edit's, and
    * the flip publishes together with its `rewrite` snapshot. */
  def flip(spark: SparkSession, plugin: GraftCatalog, db: String,
      pre: TableMeta, holder: String)(
      prepare: TableMeta => (TableMeta => TableMeta)): Unit = {
    val store = plugin.metaStore
    val release = GraftBatchWrite.leaseWritePermit(
      spark, pre.location, holder, plugin.writeLockTimeoutSec)
    try {
      val loaded = store.loadTable(db, pre.name)
      val edit = prepare(loaded)
      crashBeforeFlip.foreach(_())
      val conf = spark.sessionState.newHadoopConf()
      // every dir of the new generation is touched (the parent snapshot's
      // shards are keyed by the old location): listed by the publish
      // before its update, not under the metastore monitor
      val target = edit(loaded)
      val touched =
        if (target.external) Nil
        else if (target.isPartitioned)
          target.partitions.map(GraftBatchWrite.dirOf(target, _).toString)
        else Seq(target.location)
      val published = Snapshots.publish(conf, store, db, pre.name, "rewrite", "", touched) { cur =>
        val edited = edit(cur)
        edited.copy(history = (cur.asGeneration(System.currentTimeMillis()) +:
          edited.history).take(TableMeta.MaxHistory))
      }
      plugin.invalidateTable(Identifier.of(Array(db), pre.name))
      crashAfterFlip.foreach(_())
      Snapshots.gc(conf, published)
      ()
    } finally release()
  }

  /** Hive-layout leaf directories under `root`: exactly `depth` levels of
    * `col=value` directories, skipping hidden and metadata names at every
    * level (`root` itself when `depth` is 0). */
  private[operators] def partitionLeaves(
      fs: FileSystem, root: Path, depth: Int): Seq[FileStatus] =
    (0 until depth).foldLeft(Seq(fs.getFileStatus(root))) { (dirs, _) =>
      dirs.flatMap(d => fs.listStatus(d.getPath).toSeq.filter { s =>
        val n = s.getPath.getName
        s.isDirectory && !n.startsWith("_") && !n.startsWith(".") && n.contains("=")
      })
    }

  /** Split-block bloom options for a parquet generation, one pair per
    * declared bloom column, so the rewrite carries real filters. */
  private def bloomOptions(meta: TableMeta, provider: String): Map[String, String] =
    if (provider != "parquet") Map.empty
    else {
      val ndv = SkipStats.bloomNdv(meta.properties)
      SkipStats.resolvedBloomCols(meta.properties, meta.schema).flatMap(f => Seq(
        s"parquet.bloom.filter.enabled#${f.name}" -> "true",
        s"parquet.bloom.filter.expected.ndv#${f.name}" -> ndv.toString)).toMap
    }
}
