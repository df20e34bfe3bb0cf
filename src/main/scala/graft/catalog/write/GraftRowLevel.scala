package graft.catalog.write

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, WriteBuilder}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.{MetaStore, PartitionMeta, PartitionValues, TableMeta}

/** Row-level DML (UPDATE / MERGE INTO / row-predicate DELETE) as a
  * group-based copy-on-write operation at PARTITION granularity — the
  * DSv2 `SupportsRowLevelOperations` contract Spark's
  * `RewriteUpdateTable` / `RewriteMergeIntoTable` / `RewriteDeleteFromTable`
  * analysis rules drive.
  *
  * How Spark executes a group-based operation: it plans a `ReplaceData`
  * whose query reads the table through THIS operation's scan, transforms
  * the rows (drop deleted, substitute updated, add merge-inserted), and
  * writes the result back through THIS operation's write. The connector's
  * job is (a) tell Spark which "groups" the scan read, and (b) make the
  * write replace exactly those groups. Our groups are partitions:
  *
  *  - the scan implements [[SupportsRuntimeV2Filtering]] on the partition
  *    columns, so Spark's runtime group filtering
  *    (`RowLevelOperationRuntimeGroupFiltering`) first finds the DISTINCT
  *    partition values containing matches via a separate pushed-down scan
  *    of the plain table, then prunes this scan to those partitions — at
  *    100 TB an UPDATE touching 3 of 10,000 partitions reads and rewrites
  *    3, not 10,000;
  *  - the write appends the replacement files with the normal committer,
  *    then [[GraftBatchWrite.commit]] deletes the pre-commit files of
  *    every scanned partition (snapshot taken before the FS commit, so
  *    only old files die) and deregisters scanned partitions that ended
  *    up empty. Rows merge-INSERTed into partitions that were NOT
  *    scanned simply append — their pre-existing rows are untouched.
  *
  * Isolation: READERS concurrent with the rewrite can see old+new rows
  * between the FS commit and the old-file delete — inherent to a
  * directory-backed table without a file-level transaction log, and the
  * declared isolation level (see SCALE.md). WRITERS never see that
  * state: the per-table write permit serializes them, and a crash
  * anywhere in the window is repaired by the next write's
  * [[GraftBatchWrite.repairPendingCowDeletes]] — the persisted manifest
  * plus its `.committed` marker make the statement atomic-to-writers
  * (rolled forward after the marker, rolled back before it). The
  * reference connector has no row-level DML at all — this surface is
  * Spark-4-native (reference scope:
  * /root/reference/.../V2Table.scala:45-47 stops at batch read/write).
  */
class GraftRowLevelOperation(
    spark: SparkSession,
    store: MetaStore,
    db: String,
    meta: TableMeta,
    cmd: Command,
    autoSizeUpdate: Boolean,
    writeLockTimeoutSec: Long)
  extends RowLevelOperation {

  /** Partition specs the copy-on-write scan reads — `None` until a scan
    * is built (⇒ treat as "all"), narrowed by runtime group filtering.
    * Read by the write's commit to decide which partitions to replace;
    * the operation instance is shared by scan and write builders, which
    * is exactly what `RowLevelOperationTable` guarantees. */
  @volatile private[graft] var scannedSpecs: Option[Seq[Map[String, String]]] = None

  /** The exact data files the copy-on-write scan's file index resolved —
    * the rewrite's read snapshot. The write's commit re-lists the scanned
    * directories under the write permit and refuses to publish if the
    * live set differs: a concurrent append (or metadata DELETE) that
    * committed between the scan's listing and this job taking the permit
    * would otherwise be silently erased by the post-publish delete of
    * "old" files. Conflict detection, not locking, because the row-level
    * plan is built at analysis time and may never execute (EXPLAIN, a
    * DELETE downgraded to the metadata-only path) — a permit lease taken
    * that early could leak and wedge every writer on the table. */
  @volatile private[graft] var scannedFiles: Option[Set[String]] = None

  override def command(): Command = cmd

  override def description(): String = s"GraftCow[$cmd ${db}.${meta.name}]"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCowScanBuilder(spark, meta, options, this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): org.apache.spark.sql.connector.write.Write = {
      // Enforced here rather than at analysis so a partition-predicate
      // DELETE that Spark downgrades to the metadata-only SupportsDelete
      // path (which is bucket-safe: it only drops whole partitions) is
      // not rejected for a rewrite that never runs.
      // The WRITABLE bucket shape rewrites fine: the replacement write
      // rides the same required bucket distribution as any append, so
      // the rewritten files land hash-routed with bucket-id names
      // (layout preservation gated in BucketTableSpec). Only the
      // metadata-only declarations stay refused.
      if (meta.properties.contains(graft.catalog.GraftCatalog.BucketCountProp) &&
          graft.catalog.GraftCatalog.writableBucketSpec(meta).isEmpty)
        throw new UnsupportedOperationException(
          s"table ${db}.${meta.name} is bucketed (CLUSTERED BY " +
            s"${meta.properties(graft.catalog.GraftCatalog.BucketColumnsProp)}); " +
            "row-level writes support only a single-column bucket spec " +
            "on an unpartitioned table")
      new GraftWrite(spark, store, db, meta, info,
        CowReplace(() => scannedSpecs, () => scannedFiles, info.schema(), cmd),
        autoSizeUpdate, writeLockTimeoutSec)
    }
  }
}

/** Scan builder for the copy-on-write read: delegates the actual file
  * scan to the provider's built-in builder (same dispatch as
  * `GraftTable.newScanBuilder`) and, for partitioned tables, wraps the
  * result in a runtime-filterable [[GraftCowScan]]. Data-filter pushdown
  * is deliberately NOT offered: a group-based rewrite must see every row
  * of every scanned group (Spark only pushes group-safe filters to this
  * builder anyway), and partition pruning — the pruning that matters at
  * scale — arrives through runtime group filtering instead. */
private[write] class GraftCowScanBuilder(
    spark: SparkSession,
    meta: TableMeta,
    options: CaseInsensitiveStringMap,
    op: GraftRowLevelOperation)
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = meta.schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    if (meta.isPartitioned) {
      op.scannedSpecs = Some(meta.partitions.map(_.spec))
      new GraftCowScan(spark, meta, options, required, op)
    } else {
      // unpartitioned: the whole table is the single group — commit
      // replaces it regardless of scannedSpecs, no runtime filtering
      val (scan, files) =
        GraftCowScan.delegate(spark, meta, options, required, meta.partitions)
      op.scannedFiles = Some(files)
      scan
    }
  }
}

/** The runtime-filterable copy-on-write scan. `filter()` receives the
  * distinct matching partition values Spark computed (an `IN` predicate
  * per partition column), narrows the catalog partition list, REBUILDS
  * the delegate file scan over the pruned set (BatchScanExec re-plans
  * input partitions from `toBatch` after filtering), and records the
  * final set on the operation for the write's commit. Predicates are
  * tested against the stored specs by [[PartitionValues.mayMatch]];
  * undecidable ones keep a partition — pruning is an optimization, never a
  * correctness decision, and the recorded set always matches what the
  * delegate will actually read. */
private[write] class GraftCowScan(
    spark: SparkSession,
    meta: TableMeta,
    options: CaseInsensitiveStringMap,
    required: StructType,
    op: GraftRowLevelOperation)
  extends Scan with SupportsRuntimeV2Filtering {

  @volatile private var kept: Seq[PartitionMeta] = meta.partitions
  @volatile private var current: Scan = rebuild()

  private def rebuild(): Scan = {
    val (scan, files) = GraftCowScan.delegate(spark, meta, options, required, kept)
    op.scannedFiles = Some(files)
    scan
  }

  override def readSchema(): StructType = current.readSchema()

  override def toBatch: Batch = current.toBatch

  override def description(): String =
    s"GraftCowScan(${meta.name}, ${kept.size}/${meta.partitions.size} partitions)"

  override def filterAttributes(): Array[NamedReference] =
    meta.partitionColumns.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.column(c)).toArray

  override def filter(predicates: Array[V2Predicate]): Unit = {
    val conds = predicates.toSeq.flatMap(GraftSqlBridge.runtimeGroupFilter)
    val narrowed = kept.filter(p =>
      conds.forall(PartitionValues.mayMatch(spark, meta, p.spec, _)))
    kept = narrowed
    op.scannedSpecs = Some(narrowed.map(_.spec))
    current = rebuild()
  }
}

private[write] object GraftCowScan {
  /** Provider-dispatched delegate scan over an explicit partition subset
    * (the catalog-pruned `GraftFileIndex` shape of
    * `GraftTable.newScanBuilder`, restricted to `parts`), plus the
    * qualified paths of the data files the index resolved — the read
    * snapshot the write's commit validates against a live listing. */
  def delegate(
      spark: SparkSession,
      meta: TableMeta,
      options: CaseInsensitiveStringMap,
      required: StructType,
      parts: Seq[PartitionMeta]): (Scan, Set[String]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex, PartitioningAwareFileIndex}
    import org.apache.spark.sql.execution.datasources.v2.csv.CSVScanBuilder
    import org.apache.spark.sql.execution.datasources.v2.json.JsonScanBuilder
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
    val cache = FileStatusCache.getOrCreate(spark)
    val m = if (meta.isPartitioned) meta.copy(partitions = parts) else meta
    val index: PartitioningAwareFileIndex =
      if (m.isPartitioned) new graft.catalog.GraftFileIndex(spark, m, cache)
      else new InMemoryFileIndex(spark, Seq(new Path(m.location)),
        // option-prefixed props only — raw descriptor props carry
        // stream-epoch bookkeeping and pure metadata (comment/owner),
        // which must never surface as listing/format parameters (the
        // same rule newScanBuilder/v1Table/prepareWrite apply)
        graft.catalog.GraftCatalog.optionProps(m.properties),
        Some(m.schema), cache)
    // readOptions also injects the parquet field-id matching switch for
    // id-mapped tables, so a rewrite after RENAME COLUMN carries the
    // pre-rename files' values instead of nulls
    val opts = new CaseInsensitiveStringMap(
      (graft.catalog.GraftCatalog.readOptions(m) ++
        options.asScala).asJava)
    val builder: org.apache.spark.sql.connector.read.ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =
      m.provider match {
        case "parquet" => ParquetScanBuilder(spark, index, m.schema, m.dataSchema, opts)
        case "csv" => CSVScanBuilder(spark, index, m.schema, m.dataSchema, opts)
        case "json" => JsonScanBuilder(spark, index, m.schema, m.dataSchema, opts)
        case "orc" => org.apache.spark.sql.execution.datasources.v2.orc.OrcScanBuilder(
          spark, index, m.schema, m.dataSchema, opts)
        // avro has no FileScanBuilder (V1 format only) — the rewrite
        // reads through the generic FileFormat-backed DSv2 scan (q101's
        // read path, q104's DML half); the write half already delegates
        // to AvroFileFormat, closing the provider DML matrix
        case "avro" => new org.apache.spark.sql.graft.GraftFormatScanBuilder(
          spark, org.apache.spark.sql.graft.GraftSqlBridge.avroFileFormat(),
          index, m.schema,
          graft.catalog.GraftCatalog.optionProps(m.properties) ++
            options.asScala)
        case other => throw new IllegalStateException(s"unsupported provider $other")
      }
    builder.pruneColumns(required)
    // Forcing the listing here pins the snapshot the scan will actually
    // read: the same index instance feeds planInputPartitions, and the
    // shared FileStatusCache means no second listing cost.
    val files = index.allFiles().map(_.getPath.toString).toSet
    (builder.build(), files)
  }
}
