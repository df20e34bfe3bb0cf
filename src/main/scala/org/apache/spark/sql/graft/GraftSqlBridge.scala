package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.connector.catalog.{CatalogV2Util, TableChange}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructField, StructType}

// The one private-API bridge file (SURVEY §7.3 / R21): re-exports the
// `private[sql]` `CatalogV2Util` helpers for ALTER TABLE semantics —
// the same technique as the reference's `InternalSqlBridge`
// (spark-dsv2-common-base/.../InternalSqlBridge.scala:19-77),
// kept to the minimal surface actually needed.

/** Optimizer rule: re-resolves `V2TableReference` leaves that survive
  * analysis. Spark 4.1 stores a temp view created over a DSv2 relation
  * as a re-resolvable reference (`ViewHelper.prepareTemporaryViewPlan`),
  * and the analyzer substitutes the live relation on resolution — but
  * `RewriteMergeIntoTable` copies the PRE-substitution source plan into
  * `ReplaceData.groupFilterCondition`, which no analyzer rule revisits
  * (the reference reports itself resolved). The planner then dies with
  * "No plan for TableReference", taking the runtime group-filter
  * subquery — which clones the same leaf — down with it. This rule
  * reloads the referenced table and substitutes the relation, keeping
  * the reference's output attributes (exprIds) intact, so
  * `MERGE INTO ... USING <temp view over a catalog table>` works.
  * Injected declaratively by [[graft.GraftExtensions]] and imperatively
  * by `GraftBootstrap.ensure` (experimental.extraOptimizations — that
  * batch still runs before planning, and the rule rewrites subqueries
  * too, so post-DPP application is equally correct). */
object ResolveStrandedTableReferences
  extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.V2TableReference
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      case r: V2TableReference =>
        r.toRelation(r.catalog.loadTable(r.identifier))
    }
}

/** Re-export of the `private[sql]` streaming-fallback hook: a V2 table
  * extending this is given to the analyzer's RelationResolution, which
  * wraps `v1Table` in a streaming UnresolvedCatalogRelation so
  * `spark.readStream.table(...)` runs through Spark's V1
  * FileStreamSource (the only file micro-batch engine — DSv2 file scans
  * never implement `toMicroBatchStream`). */
trait StreamingV1FallbackTable
  extends org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback

/** Dynamic-partition-pruning bridge for the delegated file scans.
  *
  * Spark 4.1's `FileScan` implements NEITHER `SupportsRuntimeFiltering`
  * nor `SupportsRuntimeV2Filtering` — runtime filtering for file tables
  * lives exclusively in the V1 `HadoopFsRelation` path, which Spark's
  * own session-catalog tables reach through `FallBackFileSourceV2`. A
  * DSv2 catalog that delegates to `ParquetScanBuilder` therefore gets
  * NO DPP: a fact⋈dim join on the partition column scans every
  * partition. At 100 TB that is the difference between reading one
  * partition and reading the table, so this wrapper restores the
  * surface: it forwards every pushdown to the stock builder and wraps
  * the built [[FileScan]] in a [[GraftFileScan]] that accepts the
  * planner's runtime `IN`/`=` predicates (see [[RuntimePruning]]).
  *
  * The one pushdown NOT forwarded is parquet variant extraction
  * (`SupportsPushDownVariantExtractions` is sealed inside the parquet
  * builder): a variant-typed column on a PARTITIONED graft table reads
  * whole values instead of pushed paths — no inventory query uses
  * variant, and correctness is unaffected. */
class GraftScanBuilder(
    inner: org.apache.spark.sql.execution.datasources.v2.FileScanBuilder,
    spj: Boolean = false,
    bucket: Option[(Int, String)] = None,
    tableStats: Option[(java.util.OptionalLong,
      java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics])] = None,
    sortedBy: Seq[String] = Nil,
    skippingCols: Seq[String] = Nil,
    // (table schema, table properties) for the BUCKETED scan's runtime
    // file/bloom skipping — the shard evaluation needs both (q117)
    skipMeta: Option[(StructType, Map[String, String])] = None)
  extends org.apache.spark.sql.connector.read.ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.connector.read.{Scan, SupportsPushDownAggregates}
  import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  import org.apache.spark.sql.execution.datasources.v2.FileScan

  override def pruneColumns(requiredSchema: StructType): Unit =
    inner.pruneColumns(requiredSchema)
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    inner.pushFilters(filters)
  override def pushedFilters: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters
  override def pushAggregation(aggregation: Aggregation): Boolean = inner match {
    case a: SupportsPushDownAggregates => a.pushAggregation(aggregation)
    case _ => false
  }
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    inner match {
      case a: SupportsPushDownAggregates => a.supportCompletePushDown(aggregation)
      case _ => false
    }
  override def build(): Scan = {
    val scan = new GraftFileScan(inner.build().asInstanceOf[FileScan], spj, bucket,
      sortedBy, skippingCols, skipMeta)
    tableStats.foreach { case (rows, cols) => scan.withTableStats(rows, cols) }
    scan
  }
}

/** The delegated file scan behind every graft parquet/csv/json/orc
  * table that needs more than the stock scan: runtime filtering,
  * ANALYZE statistics, and the keyed layouts of [[RuntimePruning]] —
  * identity partitions under `graft.spj`, buckets, or both.
  *
  * Runtime filters that arrive before the keyed layout latched (always,
  * for a scan with no keyed layout) rebuild the inner scan with extra
  * partition filters, which [[graft.catalog.GraftFileIndex]] prunes
  * against the catalog partition list before any file listing, and
  * extra skip-stats data filters, which the same index evaluates
  * against the per-directory shards (DYNAMIC FILE PRUNING: a selective
  * join on a `graft.skipping.by` column prunes FILES by recorded
  * min/max range with no partition or bucket on the key). */
class GraftFileScan(
    initial: org.apache.spark.sql.execution.datasources.v2.FileScan,
    spj: Boolean = false,
    bucket: Option[(Int, String)] = None,
    sortedBy: Seq[String] = Nil,
    skippingCols: Seq[String] = Nil,
    skipMeta: Option[(StructType, Map[String, String])] = None)
  extends org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering
  with org.apache.spark.sql.internal.connector.SupportsMetadata {
  import org.apache.spark.sql.connector.expressions.{NamedReference, SortOrder}
  import org.apache.spark.sql.connector.expressions.filter.Predicate
  import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Statistics}
  import org.apache.spark.sql.connector.read.partitioning.Partitioning
  import org.apache.spark.sql.execution.datasources.v2.FileScan

  // the planner calls filter() once before toBatch; rebuilt-on-filter so
  // FileScan.partitions (a lazy listing) is computed on the final filters
  @volatile private var current: FileScan = initial

  // the read schema and the pushed data filters never change across
  // runtime-filter rebuilds (those add skip-stats filters only, never
  // on the bucket column), so the initial scan's serve the whole life
  private val pruning = new RuntimePruning(initial.fileIndex.partitionSchema,
    initial.readSchema(), bucket, spj, sortedBy, skippingCols, skipMeta,
    initial.dataFilters, () => {
      val s = current
      s.fileIndex.listFiles(s.partitionFilters, s.dataFilters)
    })

  override def readSchema(): StructType = current.readSchema()

  override def toBatch: Batch =
    if (pruning.keyed) batchOf(pruning.keyedSplits())
    // bucket pruning pays WITHOUT the SPJ confs too: a narrowed bucket
    // set plans splits over only the allowed buckets' files (the stock
    // path would read every file), re-split on the format's own terms.
    // Un-narrowed scans keep the stock planning entirely. (A narrowed
    // layout is a trusted one, so liveDirs never needs its fallback.)
    else if (pruning.narrowsBuckets)
      batchOf(pruning.stockSplits(pruning.liveDirs(Nil), current.isSplitable))
    else current.toBatch

  private def batchOf(splits: => Array[InputPartition]): Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = splits
    override def createReaderFactory(): PartitionReaderFactory =
      current.createReaderFactory()
  }

  /** Decide columnar support WITHOUT enumerating partitions. The
    * inherited PARTITION_DEFINED makes the planner's
    * `BatchScanExec.supportsColumnar` iterate `inputPartitions` — a full
    * UNPRUNED `listFiles(Nil)` during planning, before the runtime
    * filter exists, defeating the O(matching partitions) listing this
    * wrapper exists for. All three delegated factories answer columnar
    * support partition-independently (ParquetPartitionReaderFactory
    * ignores its argument; CSV/JSON inherit the interface's constant
    * `false` — verified against the 4.1.2 bytecode), so one factory
    * probe replaces the enumeration. */
  // memoized: createReaderFactory broadcasts the hadoop conf per call,
  // and the answer is filter-independent (same format, same schema).
  // The probe passes an EMPTY FilePartition — a real instance of the
  // type every delegated factory dispatches on, so even a Spark upgrade
  // that starts reading the argument sees a well-formed zero-file
  // partition rather than null; any probe failure still falls back to
  // the stock PARTITION_DEFINED (degraded to the old full-enumeration
  // listing, never a planning failure).
  private lazy val columnarMode =
    try {
      if (initial.createReaderFactory().supportColumnarReads(
          new org.apache.spark.sql.execution.datasources.FilePartition(
            0, Array.empty)))
        org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode.SUPPORTED
      else
        org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode.UNSUPPORTED
    } catch {
      // any probe failure (NPE, argument validation, …) — never let the
      // optimization break planning
      case scala.util.control.NonFatal(_) =>
        org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode.PARTITION_DEFINED
    }
  override def columnarSupportMode(): org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode =
    columnarMode
  override def description(): String = current.description()
  override def getMetaData(): Map[String, String] = current.getMetaData()

  /** ANALYZE-collected table statistics (numRows + per-column
    * NDV/null/min-max/length), reported through the DSv2 stats surface
    * so `transformV2Stats` attaches them as the relation's catalyst
    * `ColumnStat`s and CBO's filter/aggregate/join estimation sees real
    * cardinalities. Set by GraftScanBuilder from the catalog
    * descriptor; the delegated scan's listing-based `sizeInBytes` is
    * kept (it reflects partition pruning, which the table-level stats
    * don't). A whole-table numRows over a pruned scan OVERestimates —
    * the safe direction: CBO may miss a broadcast, never wrongly choose
    * one. */
  private var tableV2Stats: Option[(
    java.util.OptionalLong,
    java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics])] = None

  private[graft] def withTableStats(
      rows: java.util.OptionalLong,
      cols: java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]): this.type = {
    tableV2Stats = Some((rows, cols))
    this
  }

  /** Planning-time size from the PRUNED listing: stock
    * `FileScan.estimateStatistics` reports `fileIndex.sizeInBytes` — the
    * WHOLE table — so neither partition pruning nor file-level skipping
    * ever reaches JoinSelection, and a range-sliced fact that shrank to
    * one file still refuses to broadcast. When the built scan carries
    * static filters, re-derive size from the same listing `toBatch`
    * will use (catalog-partition-pruned + skip-stats-filtered; the
    * listing is FileStatusCache-shared with execution, and with NO
    * static filters the cheap catalog total is kept — planning never
    * enumerates an unfiltered 100k-partition table for a size). Memoized
    * per rebuilt scan. */
  @volatile private var prunedStatsFor:
    (FileScan, (java.util.OptionalLong, java.util.OptionalLong)) = null
  private def prunedStats(
      s: FileScan): (java.util.OptionalLong, java.util.OptionalLong) = {
    val cached = prunedStatsFor
    if (cached != null && (cached._1 eq s)) return cached._2
    val computed =
      if (s.partitionFilters.isEmpty && s.dataFilters.isEmpty)
        (java.util.OptionalLong.empty(), java.util.OptionalLong.empty())
      else try {
        val bytes = s.fileIndex.listFiles(s.partitionFilters, s.dataFilters)
          .iterator.flatMap(_.files).map(_.getLen).sum
        val factor = SQLConf.get.fileCompressionFactor
        // analyze-recorded per-partition row counts give the surviving
        // partitions' EXACT numRows — CBO cardinalities then track
        // partition pruning instead of the whole-table count
        val rows = s.fileIndex match {
          case g: graft.catalog.GraftFileIndex
              if s.partitionFilters.nonEmpty =>
            g.prunedRowCount(s.partitionFilters)
              .map(java.util.OptionalLong.of)
              .getOrElse(java.util.OptionalLong.empty())
          case _ => java.util.OptionalLong.empty()
        }
        (java.util.OptionalLong.of(math.max((bytes * factor).toLong, 1L)), rows)
      } catch { case scala.util.control.NonFatal(_) =>
        // never fail planning on a stats refinement
        (java.util.OptionalLong.empty(), java.util.OptionalLong.empty())
      }
    prunedStatsFor = (s, computed)
    computed
  }

  override def estimateStatistics(): Statistics = {
    val base = current.estimateStatistics()
    val (refined, refinedRows) = prunedStats(current)
    val size = if (refined.isPresent) refined else base.sizeInBytes()
    // POST-PRUNING column statistics: the surviving partitions'
    // analyze-recorded per-partition stats, merged by the catalog index
    // — they override the whole-table entries per column, so a pruned
    // scan's CBO estimates (aggregate output ≤ grouping NDV, filter
    // selectivity from bounds) track the pruning. Any failure keeps the
    // table-level stats (never fails planning).
    val prunedCols: Option[java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]] =
      current.fileIndex match {
        case g: graft.catalog.GraftFileIndex if current.partitionFilters.nonEmpty =>
          try g.prunedColStatsV2(current.partitionFilters)
          catch { case scala.util.control.NonFatal(_) => None }
        case _ => None
      }
    val colMap: Option[java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]] =
      (tableV2Stats.map(_._2), prunedCols) match {
        case (Some(t), Some(p)) =>
          val m = new java.util.HashMap(t); m.putAll(p); Some(m)
        case (t, p) => p.orElse(t)
      }
    val tableRows = tableV2Stats.map(_._1)
      .getOrElse(java.util.OptionalLong.empty())
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = size
      override def numRows(): java.util.OptionalLong =
        if (refinedRows.isPresent) refinedRows
        else if (tableRows.isPresent) tableRows
        else base.numRows()
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colMap.getOrElse(java.util.Collections.emptyMap())
    }
  }

  override def filterAttributes(): Array[NamedReference] = pruning.filterAttributes()

  override def filter(predicates: Array[Predicate]): Unit = {
    val (partitionFilters, skipFilters) = pruning.filter(predicates)
    if (partitionFilters.nonEmpty || skipFilters.nonEmpty)
      current = rebuild(current, partitionFilters, skipFilters)
  }

  /** `s` with extra partition filters (they prune the catalog listing)
    * and extra DATA filters, which drive only the listing's skip-stats
    * evaluation: the reader's pushed filters are untouched — the join
    * itself re-applies the predicate, so an unevaluated filter costs
    * I/O, never rows. An unknown format skips pruning and stays
    * correct. */
  private def rebuild(
      s: FileScan,
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): FileScan =
    s match {
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
        p.copy(partitionFilters = p.partitionFilters ++ partitionFilters,
          dataFilters = p.dataFilters ++ dataFilters)
      case c: org.apache.spark.sql.execution.datasources.v2.csv.CSVScan =>
        c.copy(partitionFilters = c.partitionFilters ++ partitionFilters,
          dataFilters = c.dataFilters ++ dataFilters)
      case j: org.apache.spark.sql.execution.datasources.v2.json.JsonScan =>
        j.copy(partitionFilters = j.partitionFilters ++ partitionFilters,
          dataFilters = j.dataFilters ++ dataFilters)
      case o: org.apache.spark.sql.execution.datasources.v2.orc.OrcScan =>
        o.copy(partitionFilters = o.partitionFilters ++ partitionFilters,
          dataFilters = o.dataFilters ++ dataFilters)
      case other => other
    }

  override def outputPartitioning(): Partitioning = pruning.outputPartitioning()
  override def outputOrdering(): Array[SortOrder] = pruning.outputOrdering()

  // scan equality drives exchange/scan reuse; delegate to the wrapped scan
  override def equals(other: Any): Boolean = other match {
    case g: GraftFileScan => current == g.current
    case _ => false
  }
  override def hashCode(): Int = current.hashCode()
}

/** The runtime-filter decision and the keyed layout, shared by both
  * graft DSv2 scans ([[GraftFileScan]] and [[GraftFormatScan]]): which
  * columns accept runtime filters, how the planner's `IN`/`=` predicates
  * become partition, bucket-id and skip-stats filters, which files
  * survive filters that arrive after the layout latched, and the
  * `KeyGroupedPartitioning` / output ordering / split planning of the
  * keyed layout. Unknown predicate shapes are IGNORED, never
  * mistranslated — runtime filters are an optimization; dropping one
  * costs I/O, not rows.
  *
  * KEYED LAYOUTS (storage-partitioned joins). Each reports its layout
  * as a DSv2 `KeyGroupedPartitioning` and plans one WHOLE-file split per
  * data file, each carrying its key ([[GraftKeyedFilePartition]], the
  * `HasPartitionKey` contract). Under
  * `spark.sql.sources.v2.bucketing.enabled` Spark's storage-partitioned
  * join then aligns two co-laid-out scans WITHOUT a shuffle on either
  * side. `BatchScanExec` groups key-equal splits itself, and per-file
  * splits let `partiallyClusteredDistribution.enabled` spread a SKEWED
  * key over several tasks instead of one monster task.
  *  - IDENTITY (`TBLPROPERTIES('graft.spj'='true')`, bucket-less): the
  *    key is the partition values. Opt-IN per table, because
  *    parallelism is one task per partition value — right for tables
  *    whose partition count ≥ cores, wrong for a 3-partition table.
  *    Empty registered partitions list no files and survive as one
  *    zero-file split each, keeping both sides' value sets aligned.
  *  - BUCKETED (`CLUSTERED BY (col) INTO n BUCKETS` — the declaration
  *    itself is the opt-in: the user chose n as the parallelism knob):
  *    the key is `(partition values…, bucket id)`, reported as
  *    `KeyGroupedPartitioning(identity(p)…, bucket(n, col))` — the
  *    high-cardinality complement of the identity layout, and on a
  *    partitioned table the composite 100 TB fact layout (q103). The
  *    bucket id is recovered from the FILE NAME: the bucketed write
  *    path shuffles rows with `HashPartitioning(col, n)` (see
  *    [[graft.catalog.write.GraftWrite.requiredDistribution]]) and the
  *    committer names each task's files `part-<shufflePartitionId>-…`,
  *    so the name prefix IS the bucket id — no per-file metadata, no
  *    footer reads. Every write path preserves the invariant. Safety
  *    valve: if ANY live file's name doesn't parse as a bucket id below
  *    `n` (e.g. an EXTERNAL location carrying foreign files), the scan
  *    reports no partitioning, prunes no bucket, and plans the stock
  *    splits — a wrongly TRUSTED bucket id would silently drop rows,
  *    whereas falling back only costs I/O.
  * Keyed planning engages only when the session runs
  * storage-partitioned joins (without the conf the planner ignores the
  * reported partitioning, and whole-file splits would cost scan
  * parallelism for nothing), latched at first use so planning's
  * `outputPartitioning` and execution's `planInputPartitions` can never
  * disagree if the conf flips mid-query. */
private[graft] final class RuntimePruning(
    partSchema: StructType,
    readSchema: StructType,
    bucket: Option[(Int, String)],
    identityKeyed: Boolean,
    sortedBy: Seq[String],
    skippingCols: Seq[String],
    skipMeta: Option[(StructType, Map[String, String])],
    staticFilters: Seq[Expression],
    listing: () => Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory]) {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.expressions.{Expressions, FieldReference, NamedReference, SortDirection, SortOrder, Transform}
  import org.apache.spark.sql.connector.expressions.filter.Predicate
  import org.apache.spark.sql.connector.read.InputPartition
  import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
  import org.apache.spark.sql.execution.PartitionedFileUtil
  import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, PartitionDirectory}

  private def resolves(names: Seq[String], c: String): Boolean =
    names.exists(SQLConf.get.resolver(_, c))

  /** The skip-stats targets: declared skipping columns in the output
    * that are neither partition nor bucket keys (those have their own
    * pruning surfaces). */
  private lazy val skipSchema = StructType(readSchema.fields.filter(f =>
    resolves(skippingCols, f.name) && !resolves(partSchema.fieldNames, f.name) &&
      !bucket.exists(b => SQLConf.get.resolver(b._2, f.name))))

  /** Partition columns, the bucket column and the skipping columns —
    * each only when present in the scan's OUTPUT:
    * `PartitionPruning.getFilterableTableScan` resolves these refs
    * against the output with a THROWING resolver, so advertising a
    * pruned-away column crashes any join whose projection dropped it
    * (e.g. a bucket-key join that never reads the date column). A
    * column not in the output can't be a join key, so nothing is lost. */
  def filterAttributes(): Array[NamedReference] =
    (partSchema.fieldNames.toSeq ++ bucket.map(_._2) ++ skipSchema.fieldNames)
      .filter(resolves(readSchema.fieldNames, _))
      .map(FieldReference(_): NamedReference).toArray

  /** Runtime partition-value predicates recorded for the post-latch
    * survivor test. Once a keyed layout latched, the planner read
    * `outputPartitioning` during EnsureRequirements, so the GROUP COUNT
    * is contractual — `BatchScanExec.filteredPartitions` verifies the
    * distinct key set survives runtime filtering. Late predicates
    * therefore EMPTY the pruned-out groups' file lists instead: every
    * key survives, the excluded directories are never read. At 100 TB
    * this is the composite fact⋈dim case: date-partitioned +
    * key-bucketed fact joined to a filtered date dim skips whole
    * directories while still reporting bucket alignment. */
  @volatile private var lateFilters: Seq[Expression] = Nil

  /** RUNTIME BUCKET PRUNING: bucket ids hashed from a runtime filter's
    * key values (every key value v lives in bucket pmod(murmur3(v), n),
    * the shared [[graft.catalog.GraftBucketFunction.bucketId]]
    * invariant). `None` = no runtime narrowing. A fact bucketed by order
    * id ⋈ a filtered dim of a few ids reads a handful of buckets. */
  @volatile private var lateBuckets: Option[Set[Int]] = None

  /** RUNTIME FILE SKIPPING on non-key columns (q117): runtime filters
    * over the skipping columns, evaluated per FILE against the
    * per-directory skip-stats shards — a file whose recorded range (or
    * bloom) provably excludes every key drops, or empties out of its
    * keyed group. Advisory end to end: no shard entry keeps the file. */
  @volatile private var lateSkip: Seq[Expression] = Nil

  /** Record the planner's runtime predicates as late state, and return
    * their (partition, skip-stats) catalyst translations for a scan
    * whose listing can still be rebuilt. */
  def filter(predicates: Array[Predicate]): (Seq[Expression], Seq[Expression]) = {
    val partitionFilters =
      predicates.toSeq.flatMap(GraftSqlBridge.runtimeValueFilter(_, partSchema))
    val skipFilters =
      predicates.toSeq.flatMap(GraftSqlBridge.runtimeValueFilter(_, skipSchema))
    lateFilters = lateFilters ++ partitionFilters
    lateSkip = lateSkip ++ skipFilters
    bucket.foreach { case (n, col) =>
      val sets = predicates.toSeq.flatMap(
        GraftSqlBridge.bucketIdsFromRuntimePredicate(_, col, n))
      if (sets.nonEmpty) {
        val s = sets.reduce(_ intersect _)
        lateBuckets = Some(lateBuckets.fold(s)(_ intersect s))
      }
    }
    (partitionFilters, skipFilters)
  }

  /** BUCKET PRUNING from the scan's static filters (see
    * [[GraftSqlBridge.bucketSetFromFilters]]): a point lookup reads 1/n
    * of the table's files in every session, no conf needed. */
  private lazy val allowedBuckets: Option[Set[Int]] = bucket.flatMap {
    case (n, col) => GraftSqlBridge.bucketSetFromFilters(staticFilters, col, n)
  }

  /** The keyed layout's members, latched with the listing so the
    * planner's group count and execution's splits derive from one
    * value: one (bucket id, one-file directory) per live file — the id
    * parsed from the file name, or -1 on the identity layout, where an
    * empty registered partition is one zero-file member. None = no
    * keyed layout: none declared, a foreign file name, or an EMPTY set
    * (empty table, or static bucket conjuncts intersecting to nothing)
    * — a `KeyGroupedPartitioning` with zero partition values is an edge
    * Spark's SPJ path has no contract for, and the stock scan of the
    * same file set is always correct. */
  lazy val members: Option[Seq[(Int, PartitionDirectory)]] = (bucket match {
    case Some((n, _)) =>
      val tagged = listing().flatMap(d => d.files.map(f =>
        RuntimePruning.BucketName.findFirstMatchIn(f.getPath.getName)
          .map(_.group(1).toInt).filter(_ < n)
          .map(b => (b, PartitionDirectory(d.values, Seq(f))))))
      if (tagged.forall(_.isDefined))
        Some(tagged.flatten.filter(m => allowedBuckets.forall(_.contains(m._1))))
      else None
    case None if identityKeyed =>
      Some(listing().flatMap(d =>
        if (d.files.isEmpty) Seq((-1, d))
        else d.files.map(f => (-1, PartitionDirectory(d.values, Seq(f))))))
    case None => None
  }).filter(_.nonEmpty)

  lazy val keyed: Boolean = SQLConf.get.v2BucketingEnabled && members.isDefined

  /** Whether a trusted bucket layout is narrowed by static or runtime
    * bucket pruning — then even unkeyed planning reads only the allowed
    * buckets' files. */
  def narrowsBuckets: Boolean =
    bucket.isDefined && members.isDefined &&
      (allowedBuckets.isDefined || lateBuckets.isDefined)

  /** One member's grouping key: `(partition values…[, bucket id])`.
    * Values are COPIED out of the listing's row (which may be
    * unsafe/reused) so row equality inside BatchScanExec's grouping is
    * structural. */
  private def keyRow(b: Int, pv: InternalRow): InternalRow =
    InternalRow.fromSeq(pv.toSeq(partSchema) ++ bucket.map(_ => b))

  def outputPartitioning(): Partitioning =
    if (!keyed) new UnknownPartitioning(0)
    else new KeyGroupedPartitioning(
      (partSchema.fieldNames.map(Expressions.identity(_): Transform) ++
        bucket.map { case (n, col) => Expressions.bucket(n, col) })
        .toArray[org.apache.spark.sql.connector.expressions.Expression],
      members.get.map { case (b, d) => (b, d.values.toSeq(partSchema)) }.distinct.size)

  /** SORT-FREE MERGE JOINS (`SupportsReportOrdering`): under the
    * catalog's sort-trust marker every live file is internally sorted
    * by `sortedBy` (the write path orders partition cols first, then
    * the cluster cols). Reported ONLY on the keyed path, where each input
    * partition is ONE whole file, so the claim is exactly the per-file
    * invariant; when `BatchScanExec` groups several same-key splits, its
    * own `partitioningPreservesOrdering` check discards the ordering, so
    * appends-without-compaction degrade to a planned sort, never to
    * wrong rows. With every partition column in the output the write's
    * full `(partitionCols, clusterCols)` order is reported; when the
    * projection dropped one, the cluster cols alone — valid because
    * partition values are CONSTANT within a keyed group. Either way only
    * the longest prefix present in the output is claimed (the rule
    * resolves refs with a throwing resolver). */
  def outputOrdering(): Array[SortOrder] =
    if (sortedBy.isEmpty || !keyed) Array.empty
    else {
      def present(c: String) = resolves(readSchema.fieldNames, c)
      val partCols = partSchema.fieldNames.toSeq
      val candidate =
        if (partCols.nonEmpty && partCols.forall(present)) partCols ++ sortedBy
        else sortedBy
      candidate.takeWhile(present).map(c =>
        Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)).toArray
    }

  /** THE survivor test of the late state: `ms` with every file of an
    * excluded partition value or bucket, and every file the skip-stats
    * shards exclude, removed — members keep their slot (and key) with
    * an emptied file list. A bucket id below 0 (identity layout, or an
    * untrusted listing) is never bucket-tested. Any evaluation failure
    * keeps the file. */
  def survivors(ms: Seq[(Int, PartitionDirectory)]): Seq[(Int, PartitionDirectory)] = {
    val keepValues = GraftSqlBridge.compilePartitionPredicate(lateFilters, partSchema)
    val buckets = lateBuckets
    val keepFile = skipSurvivors(ms.map(_._2))
    ms.map { case (b, d) =>
      val live = keepValues(d.values) && (b < 0 || buckets.forall(_.contains(b)))
      (b, d.copy(files = if (live) d.files.filter(keepFile) else Nil))
    }
  }

  /** The surviving directories: the keyed members when the layout is
    * trusted, else `untrusted` (the scan's own listing). */
  def liveDirs(untrusted: => Seq[PartitionDirectory]): Seq[PartitionDirectory] =
    survivors(members.getOrElse(untrusted.map((-1, _)))).map(_._2)

  // one shard read per involved directory, memoized inside applySkipping
  private def skipSurvivors(
      dirs: Seq[PartitionDirectory]): FileStatusWithMetadata => Boolean = {
    val filters = lateSkip
    skipMeta match {
      case Some((schema, props)) if filters.nonEmpty =>
        try {
          val kept = graft.catalog.SkipStats.applySkipping(
            org.apache.spark.sql.SparkSession.active, schema, props, dirs, filters)
            .iterator.flatMap(_.files).map(_.getPath.toString).toSet
          f => kept.contains(f.getPath.toString)
        } catch { case scala.util.control.NonFatal(_) => _ => true }
      case _ => _ => true
    }
  }

  /** Keyed planning: one WHOLE-file split per member (a split spanning
    * two keys would break the contract), emptied by [[survivors]]. */
  def keyedSplits(): Array[InputPartition] =
    survivors(members.get).zipWithIndex.map { case ((b, d), i) =>
      val files = d.files.flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath,
        isSplitable = false, maxSplitBytes = Long.MaxValue,
        partitionValues = d.values)).toArray
      new GraftKeyedFilePartition(i, files, keyRow(b, d.values)): InputPartition
    }.toArray

  /** Stock planning over `dirs`: format-splittable files, bin-packed
    * largest first — a point lookup on a bucket held in ONE large file
    * keeps the intra-file parallelism the stock path would give it. */
  def stockSplits(
      dirs: Seq[PartitionDirectory],
      isSplitable: org.apache.hadoop.fs.Path => Boolean): Array[InputPartition] = {
    val session = org.apache.spark.sql.SparkSession.active
    val maxSplit = FilePartition.maxSplitBytes(session, dirs)
    val splits = dirs.flatMap(d => d.files.flatMap(f =>
      PartitionedFileUtil.splitFiles(f, f.getPath, isSplitable(f.getPath),
        maxSplit, d.values))).sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(session, splits, maxSplit).toArray[InputPartition]
  }
}

private[graft] object RuntimePruning {
  private val BucketName = "^part-(\\d+)-".r
}

/** A [[org.apache.spark.sql.execution.datasources.FilePartition]] that
  * carries its partition key — `HasPartitionKey` is what lets
  * `BatchScanExec` expose key-grouped partitioning to the SPJ planner.
  * The delegated file reader factories dispatch on `FilePartition`, so
  * the subclass rides the stock (vectorized) read path unchanged. */
class GraftKeyedFilePartition(
    idx: Int,
    files0: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: org.apache.spark.sql.catalyst.InternalRow)
  extends org.apache.spark.sql.execution.datasources.FilePartition(idx, files0)
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

/** Generic DSv2 scan over a V1 [[org.apache.spark.sql.execution.datasources.FileFormat]]
  * — the read path for formats Spark ships WITHOUT a DSv2 scan (today:
  * avro, whose bundled implementation is the V1 `AvroFileFormat` only).
  * This is the same delegation the reference's SerDe reader performs for
  * arbitrary Hive formats (HiveFilePartitionReaderFactory.scala:43-154),
  * re-expressed against Spark's public row-reader contract:
  * `buildReaderWithPartitionValues` yields the per-file
  * `PartitionedFile => Iterator[InternalRow]` closure, and this scan
  * supplies the DSv2 shell around it (column pruning, catalog-pruned
  * partition listing, split bin-packing).
  *
  * Pushdown posture: COLUMN PRUNING is forwarded (avro decodes only the
  * requested fields); PARTITION filters prune the listing (conjuncts
  * referencing only partition columns are retained for `listFiles` —
  * and every filter is reported back as post-scan, so Spark re-applies
  * them and a mis-classified conjunct costs I/O, never rows); DATA
  * filter pushdown is not claimed (the avro row reader has no
  * stats-based skipping to give). */
class GraftFormatScanBuilder(
    spark: org.apache.spark.sql.SparkSession,
    format: org.apache.spark.sql.execution.datasources.FileFormat,
    index: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex,
    fullSchema: StructType,
    options: Map[String, String],
    bucket: Option[(Int, String)] = None,
    sortedBy: Seq[String] = Nil,
    // runtime file skipping on declared skipping columns (q117 parity
    // for the row formats — their shards come from CALL sys.analyze)
    skippingCols: Seq[String] = Nil,
    skipMeta: Option[(StructType, Map[String, String])] = None)
  extends org.apache.spark.sql.connector.read.ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference

  private var required: StructType = fullSchema
  private var partitionFilters: Seq[Expression] = Nil
  private var dataFilters: Seq[Expression] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val partCols = index.partitionSchema.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    partitionFilters = filters.filter(f =>
      f.references.nonEmpty && f.references.forall(r =>
        partCols.contains(r.name.toLowerCase(java.util.Locale.ROOT))))
    dataFilters = filters.filterNot(partitionFilters.contains)
    filters // everything stays a post-scan filter — pruning is I/O-only
  }

  override def pushedFilters: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate] = Array.empty

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    // rebase the retained partition filters onto fresh attributes the
    // file index resolves by name (same trick as GraftFileScan's
    // runtime-filter rebuild)
    val rebased = partitionFilters.map(_.transform {
      case a: AttributeReference =>
        index.partitionSchema.fields
          .find(f => SQLConf.get.resolver(f.name, a.name))
          .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
          .getOrElse(a)
    })
    new GraftFormatScan(spark, format, index, fullSchema, required, rebased,
      options, bucket, dataFilters, sortedBy, skippingCols, skipMeta)
  }
}

class GraftFormatScan(
    spark: org.apache.spark.sql.SparkSession,
    format: org.apache.spark.sql.execution.datasources.FileFormat,
    index: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex,
    fullSchema: StructType,
    required: StructType,
    partitionFilters: Seq[Expression],
    options: Map[String, String],
    bucket: Option[(Int, String)] = None,
    dataFilters: Seq[Expression] = Nil,
    sortedBy: Seq[String] = Nil,
    skippingCols: Seq[String] = Nil,
    skipMeta: Option[(StructType, Map[String, String])] = None)
  extends org.apache.spark.sql.connector.read.Scan
  with org.apache.spark.sql.connector.read.Batch
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  import org.apache.spark.sql.connector.expressions.{NamedReference, SortOrder}
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
  import org.apache.spark.sql.connector.read.partitioning.Partitioning
  import org.apache.spark.sql.execution.datasources.PartitionDirectory

  private val partSet = index.partitionSchema.fieldNames
    .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
  // pruned DATA columns in table order; the reader appends the FULL
  // partition schema after them (buildReaderWithPartitionValues's
  // contract), so readSchema below is exactly what rows carry
  private val readDataSchema = StructType(required.fields.filterNot(f =>
    partSet.contains(f.name.toLowerCase(java.util.Locale.ROOT))))
  private val dataSchema = StructType(fullSchema.fields.filterNot(f =>
    partSet.contains(f.name.toLowerCase(java.util.Locale.ROOT))))

  override def readSchema(): StructType =
    StructType(readDataSchema.fields ++ index.partitionSchema.fields)

  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  override def description(): String =
    s"GraftFormatScan[${format.getClass.getSimpleName}] ${index.rootPaths.mkString(",")}"

  /** Post-pruning size for the planner's join selection (`FileScan`
    * reports this for the built-in formats; without it a generic-format
    * table sizes at `defaultSizeInBytes` = never broadcastable, so an
    * avro dim table forced every join through a shuffle). Sum of the
    * SELECTED (partition-pruned) files, scaled by the session's file
    * compression factor — the same estimate the stock scans make. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = {
        val bytes = selected.flatMap(_.files).map(_.getLen).sum
        java.util.OptionalLong.of(
          (bytes * spark.sessionState.conf.fileCompressionFactor).toLong)
      }
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }

  // data filters thread through to the LISTING so the catalog index's
  // file-level skipping evaluates them (q109 on row formats: the
  // ANALYZE-built synthetic ranges — reader pushdown is still not
  // claimed, every filter re-applies post-scan)
  private lazy val selected: Seq[PartitionDirectory] =
    index.listFiles(partitionFilters, dataFilters)

  // the listing is fixed at build, so every runtime filter (DPP on the
  // partition columns, bucket ids, skip-stats on the skipping columns —
  // the row formats' shards come from CALL sys.analyze) takes the late
  // survivor path; a BUCKETED table gets the same keyed layout as the
  // columnar providers
  private val pruning = new RuntimePruning(index.partitionSchema, readSchema(),
    bucket, identityKeyed = false, sortedBy, skippingCols, skipMeta, dataFilters,
    () => selected)

  override def filterAttributes(): Array[NamedReference] = pruning.filterAttributes()
  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    pruning.filter(predicates)
  override def outputPartitioning(): Partitioning = pruning.outputPartitioning()
  override def outputOrdering(): Array[SortOrder] = pruning.outputOrdering()

  override def planInputPartitions(): Array[InputPartition] =
    if (pruning.keyed) pruning.keyedSplits()
    else pruning.stockSplits(pruning.liveDirs(selected),
      format.isSplitable(spark, options, _))

  override def createReaderFactory(): PartitionReaderFactory = {
    // driver-side: the closure broadcasts the hadoop conf internally and
    // is the exact function the V1 scan exec ships in its RDD
    val readFn = format.buildReaderWithPartitionValues(
      spark, dataSchema, index.partitionSchema, readDataSchema,
      Nil, options, spark.sessionState.newHadoopConf())
    new GraftFormatReaderFactory(readFn)
  }
}

class GraftFormatReaderFactory(
    readFn: org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[org.apache.spark.sql.catalyst.InternalRow])
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
  import org.apache.spark.sql.execution.datasources.FilePartition

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val it = p.asInstanceOf[FilePartition].files.iterator.flatMap(readFn)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = () // per-file readers close via task listeners
    }
  }
}

object GraftSqlBridge {
  /** The bundled V1 avro format (`private[sql]` upstream) — the write
    * delegate and the [[GraftFormatScan]] read delegate for `avro`
    * tables. */
  def avroFileFormat(): org.apache.spark.sql.execution.datasources.FileFormat =
    new org.apache.spark.sql.avro.AvroFileFormat

  /** A DataFrame over a connector [[org.apache.spark.sql.connector.catalog.Table]]
    * instance directly (no catalog lookup) — how the incremental-read
    * operator serves its pinned file subset as a plain relation the
    * full DataFrame/SQL surface composes over. */
  def tableDF(
      spark: org.apache.spark.sql.SparkSession,
      table: org.apache.spark.sql.connector.catalog.Table)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      // ANONYMOUS relation (no catalog/identifier): carrying the ident
      // lets later analysis passes re-resolve the name from the catalog
      // and silently swap the pinned instance for the LIVE table — a
      // temp view over the incremental slice would then serve current
      // rows. With None/None the plan can only ever mean this instance.
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(table, None, None))

  /** A V1 parquet DataFrame over an EXPLICIT, ALREADY-LISTED file set —
    * the positional merge-on-read read path's building block (q121).
    * `spark.read.parquet(paths)` would re-`getFileStatus` every path on
    * the driver at each planning pass; the planner already HOLDS the
    * statuses (from the seq-keyed listing cache or a pinned snapshot),
    * so this serves them through a pinned [[FileIndex]] with zero
    * filesystem calls. The V1 relation keeps the whole standard surface:
    * vectorized parquet, predicate pushdown into row groups, column
    * pruning, and the `_metadata` struct (`file_path`/`row_index`) the
    * positional identity is built from. */
  def pinnedParquetDF(
      spark: org.apache.spark.sql.SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType,
      files: Seq[org.apache.hadoop.fs.FileStatus],
      options: Map[String, String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
    import org.apache.spark.sql.types.StructType
    val index = new FileIndex {
      override def rootPaths: Seq[org.apache.hadoop.fs.Path] =
        files.map(_.getPath)
      override def listFiles(
          partitionFilters: Seq[Expression],
          dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
        Seq(PartitionDirectory(InternalRow.empty,
          files.map(FileStatusWithMetadata(_))))
      override def inputFiles: Array[String] =
        files.map(_.getPath.toString).toArray
      override def refresh(): Unit = ()
      override def sizeInBytes: Long = files.map(_.getLen).sum
      override def partitionSchema: StructType = StructType(Nil)
    }
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = options)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LogicalRelation(relation))
  }

  /** Runtime (DPP) `=`/`IN` predicate over one of `partitionSchema`'s
    * columns → a catalyst filter on a fresh by-name attribute (the
    * planner's runtime filters arrive as `IN`/`=` over LiteralValues,
    * `DataSourceV2Strategy.translateRuntimeFilterV2`; values are
    * catalyst-internal, so `Literal(v, dt)` is the exact inverse).
    * Unknown shapes → None (pruning is an optimization, never a row
    * filter — every filter is also re-applied post-scan). */
  private[graft] def runtimeValueFilter(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate,
      partitionSchema: StructType): Option[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, In, Literal}
    import org.apache.spark.sql.connector.expressions.{LiteralValue, NamedReference}
    def field(r: NamedReference): Option[StructField] = r.fieldNames match {
      case Array(n) => partitionSchema.fields.find(f => SQLConf.get.resolver(f.name, n))
      case _ => None
    }
    def attr(f: StructField) = AttributeReference(f.name, f.dataType)()
    (p.name, p.children) match {
      case ("IN", Array(r: NamedReference, vs @ _*))
          if vs.forall(_.isInstanceOf[LiteralValue[_]]) =>
        field(r).map(f => In(attr(f),
          vs.map { case lv: LiteralValue[_] => Literal(lv.value, lv.dataType) }))
      case ("=", Array(r: NamedReference, lv: LiteralValue[_])) =>
        field(r).map(f => EqualTo(attr(f), Literal(lv.value, lv.dataType)))
      case ("=", Array(lv: LiteralValue[_], r: NamedReference)) =>
        field(r).map(f => EqualTo(attr(f), Literal(lv.value, lv.dataType)))
      case _ => None
    }
  }

  /** A pushed V1 source filter as Catalyst over unresolved column
    * names, through Spark's own translations (`Filter.toV2`, then
    * `V2ExpressionUtils.toCatalyst`, which types the literals: a
    * `java.sql.Timestamp` becomes epoch micros). None when Spark has no
    * Catalyst form for it. */
  def toCatalyst(f: org.apache.spark.sql.sources.Filter): Option[Expression] =
    org.apache.spark.sql.catalyst.expressions.V2ExpressionUtils.toCatalyst(f.toV2)

  /** A runtime group filter — `p IN (…)` over the DISTINCT partition
    * values of the rows a row-level operation matches — as Catalyst.
    * The values come from a grouping, so a null among them means a
    * matching row sits in the null partition: the test is membership,
    * and SQL's three-valued IN would wrongly prune that partition. */
  def runtimeGroupFilter(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate): Option[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{In, IsNull, Literal, Or}
    org.apache.spark.sql.catalyst.expressions.V2ExpressionUtils.toCatalyst(p).map(_.transformUp {
      case in @ In(v, list) if list.exists { case Literal(null, _) => true; case _ => false } =>
        Or(IsNull(v), in)
    })
  }

  /** `=`/`IN` literal values over the bucket column in a runtime
    * predicate → their bucket-id set (every key value v lives in bucket
    * `pmod(murmur3(v), n)`, the write-routing invariant). NULL never
    * equi-joins, so it maps to no bucket. */
  private[graft] def bucketIdsFromRuntimePredicate(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate,
      bucketCol: String, numBuckets: Int): Option[Set[Int]] = {
    import org.apache.spark.sql.connector.expressions.{LiteralValue, NamedReference}
    def isCol(r: NamedReference) = r.fieldNames match {
      case Array(n) => SQLConf.get.resolver(n, bucketCol)
      case _ => false
    }
    def id(lv: LiteralValue[_]): Set[Int] =
      if (lv.value == null) Set.empty
      else Set(graft.catalog.GraftBucketFunction.bucketId(
        lv.value, lv.dataType, numBuckets))
    (p.name, p.children) match {
      case ("IN", Array(r: NamedReference, vs @ _*))
          if isCol(r) && vs.forall(_.isInstanceOf[LiteralValue[_]]) =>
        Some(vs.flatMap { case lv: LiteralValue[_] => id(lv) }.toSet)
      case ("=", Array(r: NamedReference, lv: LiteralValue[_])) if isCol(r) =>
        Some(id(lv))
      case ("=", Array(lv: LiteralValue[_], r: NamedReference)) if isCol(r) =>
        Some(id(lv))
      case _ => None
    }
  }

  /** Partition-value predicate compiled from late (post-latch) runtime
    * filters — bound by NAME to the partition schema's positions and
    * interpreted (no codegen: it runs once per file at planning). Any
    * binding or eval failure keeps the file: pruning is an
    * optimization, never a row filter. */
  private[graft] def compilePartitionPredicate(
      filters: Seq[Expression],
      partitionSchema: StructType): org.apache.spark.sql.catalyst.InternalRow => Boolean =
    if (filters.isEmpty) (_: org.apache.spark.sql.catalyst.InternalRow) => true
    else try {
      import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference}
      val bound = filters.map(_.transform {
        case a: AttributeReference =>
          val i = partitionSchema.fields.indexWhere(f => SQLConf.get.resolver(f.name, a.name))
          if (i >= 0)
            BoundReference(i, partitionSchema.fields(i).dataType,
              partitionSchema.fields(i).nullable)
          else a
      }).reduce(And(_, _))
      val pred = org.apache.spark.sql.catalyst.expressions.Predicate
        .createInterpreted(bound)
      (row: org.apache.spark.sql.catalyst.InternalRow) =>
        try pred.eval(row)
        catch { case scala.util.control.NonFatal(_) => true }
    } catch { case scala.util.control.NonFatal(_) =>
      (_: org.apache.spark.sql.catalyst.InternalRow) => true }

  /** BUCKET PRUNING's predicate → bucket-set translation, used by
    * [[RuntimePruning]] for both scans: equality/IN on the bucket
    * column narrow to the literals' buckets (the math is THE shared
    * `GraftBucketFunction.bucketId` definition the write routing
    * uses); a NULL equality literal matches no rows → empty set;
    * conjuncts of other shapes are ignored — pruning is an
    * optimization, never a row filter. None = no narrowing. */
  private[graft] def bucketSetFromFilters(
      filters: Seq[Expression], bucketCol: String,
      numBuckets: Int): Option[Set[Int]] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, In, Literal}
    def onCol(a: AttributeReference): Boolean = SQLConf.get.resolver(a.name, bucketCol)
    def id(v: Any, dt: org.apache.spark.sql.types.DataType): Set[Int] =
      if (v == null) Set.empty
      else Set(graft.catalog.GraftBucketFunction.bucketId(v, dt, numBuckets))
    val sets = filters.flatMap {
      case EqualTo(a: AttributeReference, Literal(v, dt)) if onCol(a) => Some(id(v, dt))
      case EqualTo(Literal(v, dt), a: AttributeReference) if onCol(a) => Some(id(v, dt))
      case In(a: AttributeReference, elems) if onCol(a) &&
          elems.forall(_.isInstanceOf[Literal]) =>
        Some(elems.flatMap { case Literal(v, dt) => id(v, dt) }.toSet)
      case _ => None
    }
    sets.reduceOption(_ intersect _)
  }

  /** String-encoded descriptor min/max → the CATALYST value
    * `transformV2Stats` expects (UTF8String for strings, Long for
    * bigint, days-int for dates, …): a Cast through the column's own
    * type, evaluated eagerly. None when the cast can't parse the stored
    * form (then the bound is simply not reported — stats are advisory,
    * never a correctness surface). */
  def catalystStatValue(s: String, dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val v = Cast(
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType),
      dt, Some(SQLConf.get.sessionLocalTimeZone)).eval()
    Option(v)
  }

  /** One column's DSv2 statistics view over the descriptor record.
    * `histogram` is the ANALYZE-collected equi-height histogram
    * (rows-per-bin height, (lo, hi, ndv) bins) — `transformV2Stats`
    * converts it to the catalyst `Histogram` that CBO's range-filter
    * estimation prefers over the uniform min/max assumption. */
  def v2ColumnStatistics(
      dt: org.apache.spark.sql.types.DataType,
      ndv: Long, nullCount: Long,
      min: Option[String], max: Option[String],
      avgLen: Option[Long], maxLen: Option[Long],
      histogram: Option[(Double, Seq[(Double, Double, Long)])] = None):
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics = {
    // captured under fresh names: inside the anonymous class the
    // parameter names resolve to the methods being overridden
    val minV: java.util.Optional[Object] =
      min.flatMap(catalystStatValue(_, dt))
        .map(v => java.util.Optional.of(v.asInstanceOf[Object]))
        .getOrElse(java.util.Optional.empty[Object]())
    val maxV: java.util.Optional[Object] =
      max.flatMap(catalystStatValue(_, dt))
        .map(v => java.util.Optional.of(v.asInstanceOf[Object]))
        .getOrElse(java.util.Optional.empty[Object]())
    val avgLenV = avgLen.map(v => java.util.OptionalLong.of(v))
      .getOrElse(java.util.OptionalLong.empty())
    val maxLenV = maxLen.map(v => java.util.OptionalLong.of(v))
      .getOrElse(java.util.OptionalLong.empty())
    val ndvV = java.util.OptionalLong.of(ndv)
    val nullCountV = java.util.OptionalLong.of(nullCount)
    val histV: java.util.Optional[
        org.apache.spark.sql.connector.read.colstats.Histogram] =
      histogram.map { case (h, bins) =>
        val binArr = bins.map { case (l, u, bNdv) =>
          new org.apache.spark.sql.connector.read.colstats.HistogramBin {
            override def lo(): Double = l
            override def hi(): Double = u
            override def ndv(): Long = bNdv
          }
        }.toArray
        java.util.Optional.of(
          new org.apache.spark.sql.connector.read.colstats.Histogram {
            override def height(): Double = h
            override def bins(): Array[
                org.apache.spark.sql.connector.read.colstats.HistogramBin] = binArr
          })
      }.getOrElse(java.util.Optional.empty())
    new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
      override def distinctCount(): java.util.OptionalLong = ndvV
      override def nullCount(): java.util.OptionalLong = nullCountV
      override def min(): java.util.Optional[Object] = minV
      override def max(): java.util.Optional[Object] = maxV
      override def avgLen(): java.util.OptionalLong = avgLenV
      override def maxLen(): java.util.OptionalLong = maxLenV
      override def histogram(): java.util.Optional[
          org.apache.spark.sql.connector.read.colstats.Histogram] = histV
    }
  }

  def applyPropertiesChanges(
      properties: Map[String, String],
      changes: Seq[TableChange]): Map[String, String] =
    CatalogV2Util.applyPropertiesChanges(properties, changes)

  def applySchemaChanges(
      schema: StructType,
      changes: Seq[TableChange],
      provider: Option[String],
      statementType: String): StructType =
    CatalogV2Util.applySchemaChanges(schema, changes, provider, statementType)

  /** Wrap a raw Catalyst expression as a user-facing Column (the
    * constructor is private[sql] in Spark 4). */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The inverse: unwrap a Column's Catalyst expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unwrap a row-level rewrite's relation table
    * (`RowLevelOperationTable` is `private[sql]`): the underlying
    * catalog table and the live operation instance. Used by
    * `graft.plans.ResolveDeletionVectors` to give a merge-on-read
    * UPDATE/MERGE delta read the same deletion-vector anti-join split
    * as any other read of the table. */
  def rowLevelOperationTable(
      t: org.apache.spark.sql.connector.catalog.Table)
      : Option[(org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations,
                org.apache.spark.sql.connector.write.RowLevelOperation)] =
    t match {
      case r: org.apache.spark.sql.connector.write.RowLevelOperationTable =>
        Some((r.table, r.operation))
      case _ => None
    }

  /** Mint a streaming-flagged DataFrame from a BATCH plan
    * (`internalCreateDataFrame` is `private[sql]`): the V1 streaming
    * engine asserts `isStreaming` on every `Source.getBatch` result, and
    * the batch plan is compiled FIRST (full Catalyst + extension rules —
    * pushdown, the deletion-vector anti-join split, codegen) so the
    * streaming wrapper carries the already-optimized scan pipeline. */
  def asStreamingDF(
      spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
        isStreaming = true)
}

// ---------------------------------------------------------------------------
// SNAPSHOT-LINEAGE STREAMING SOURCE — the V1 `Source` adapter (s23).
//
// Spark's DSv2 file scans never implement `toMicroBatchStream`; the V1
// micro-batch Source API is how every file-backed stream actually runs
// (`FileStreamSource` included), and it is the one surface where a source
// can hand the engine a DataFrame it planned itself — which is exactly
// what the snapshot-lineage source needs (each batch is a manifest-planned
// incremental read, not a file listing). `Source`, `Offset` and the
// isStreaming DataFrame mint are spark-internal, so the adapter lives in
// this declared bridge file; the engine-side logic is
// `graft.streaming.GraftChangeStream`.
// ---------------------------------------------------------------------------

/** `spark.readStream.format("graft-cdc").option("table", "cat.ns.t")` —
  * micro-batches from the snapshot lineage; `option("mode", "cdc")` for
  * the changelog form. See [[graft.streaming.GraftChangeStream]]. */
class GraftCdcSourceProvider
  extends org.apache.spark.sql.sources.StreamSourceProvider
  with org.apache.spark.sql.sources.DataSourceRegister {

  import graft.streaming.GraftChangeStream

  override def shortName(): String = "graft-cdc"

  private def feed(
      sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String]): GraftChangeStream.VersionedChangeFeed = {
    val table = parameters.getOrElse("table", throw new IllegalArgumentException(
      "graft-cdc requires .option(\"table\", \"catalog.ns.table\")"))
    GraftChangeStream.forTable(sqlContext.sparkSession, table,
      parameters.getOrElse("mode", GraftChangeStream.AppendMode).toLowerCase)
  }

  override def sourceSchema(
      sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[org.apache.spark.sql.types.StructType],
      providerName: String,
      parameters: Map[String, String])
      : (String, org.apache.spark.sql.types.StructType) =
    (shortName(), feed(sqlContext, parameters).schema)

  override def createSource(
      sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    new GraftCdcSource(sqlContext.sparkSession, feed(sqlContext, parameters))
}

/** ABSOLUTE snapshot version as a streaming offset: monotonic per table
  * (survives lineage clears), so checkpointed ranges replay against the
  * same manifests byte-identically. */
case class GraftVersionOffset(version: Long)
  extends org.apache.spark.sql.execution.streaming.Offset {
  override val json: String = version.toString
}

private[graft] class GraftCdcSource(
    spark: org.apache.spark.sql.SparkSession,
    feed: graft.streaming.GraftChangeStream.VersionedChangeFeed)
  extends org.apache.spark.sql.execution.streaming.Source {

  override def schema: org.apache.spark.sql.types.StructType = feed.schema

  private def versionOf(
      o: org.apache.spark.sql.execution.streaming.Offset): Long = o match {
    case GraftVersionOffset(v) => v
    case other => other.json.trim.toLong // restored from the checkpoint log
  }

  override def getOffset
      : Option[org.apache.spark.sql.execution.streaming.Offset] =
    feed.headVersion().map(GraftVersionOffset(_))

  override def getBatch(
      start: Option[org.apache.spark.sql.execution.streaming.Offset],
      end: org.apache.spark.sql.execution.streaming.Offset)
      : org.apache.spark.sql.DataFrame =
    GraftSqlBridge.asStreamingDF(spark,
      feed.batch(start.map(versionOf), versionOf(end)))

  override def commit(
      end: org.apache.spark.sql.execution.streaming.Offset): Unit = ()

  override def stop(): Unit = ()
}
