package graft.catalog.write

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusCache, WriteJobDescription, WriteTaskResult}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileBatchWrite
import org.apache.spark.sql.sources.{AlwaysTrue, And, EqualNullSafe, EqualTo, Filter}
import org.apache.spark.util.SerializableConfiguration

import graft.catalog.{MetaStore, PartitionMeta, PartitionValues, TableMeta, TableStats}

/** Shared translation of V1 delete/overwrite filters into a static
  * partition spec (the reference's unwrap rule,
  * /root/reference/.../HiveFileFormatWriteBuilder.scala:179-206):
  * `And`/`EqualTo`/`EqualNullSafe`/`IsNull` over partition columns.
  * `Some(empty)` = the whole table (AlwaysTrue / no filters);
  * `None` = not expressible as a static partition spec. Used by both
  * overwrite-by-filter and `SupportsDelete.deleteWhere`, so the two
  * surfaces can never drift on predicate semantics. */
private[graft] object PartitionPredicates {
  def unwrap(
      spark: SparkSession,
      meta: TableMeta,
      filters: Array[Filter]): Option[Map[String, String]] = {
    // Values must be encoded EXACTLY like stored partition specs
    // (String.valueOf would yield "null" and Timestamp.toString's ".0"
    // suffix — the delete would silently miss its partition)
    def encode(v: Any): String = PartitionValues.encode(spark, Literal(v))
    def un(f: Filter): Option[Seq[(String, String)]] = f match {
      case And(l, r) => for { a <- un(l); b <- un(r) } yield a ++ b
      case EqualTo(col, v) => Some(Seq(col -> encode(v)))
      case EqualNullSafe(col, v) => Some(Seq(col -> encode(v)))
      // Catalyst simplifies `col <=> null` to IsNull before it reaches
      // the builder — it IS the static null-partition predicate
      case org.apache.spark.sql.sources.IsNull(col) =>
        Some(Seq(col -> PartitionValues.NullName))
      case _: AlwaysTrue => Some(Seq.empty)
      case _ => None
    }
    val parts = filters.toSeq.map(un)
    if (parts.exists(_.isEmpty)) None
    else {
      val pairs = parts.flatMap(_.get)
      // Conflicting equalities on one column (p='x' AND p='y') select
      // zero rows — a last-wins toMap would instead target the LAST
      // value's partition and delete data the predicate never matched.
      // Catalyst does not fold the contradiction, so refuse it here.
      val conflicting = pairs.groupBy(_._1.toLowerCase)
        .exists(_._2.map(_._2).distinct.size > 1)
      val spec = pairs.toMap
      if (!conflicting && spec.keys.forall(c =>
          meta.partitionColumns.exists(_.equalsIgnoreCase(c)))) Some(spec)
      else None
    }
  }

  /** Does a partition's stored spec match a static (possibly partial)
    * spec? Column names compare case-insensitively, values exactly. */
  def matches(spec: Map[String, String], pspec: Map[String, String]): Boolean =
    spec.forall { case (k, v) =>
      pspec.exists { case (pk, pv) => pk.equalsIgnoreCase(k) && pv == v } }

  /** Directories owned by a static spec: every tracked matching
    * partition's dir (honoring custom LOCATIONs) plus, for a FULL spec,
    * the literal table-relative dir — covering files written before
    * partition tracking. Shared by static-overwrite pre-deletes and
    * `deleteWhere` so dir targeting cannot drift between the surfaces. */
  def matchDirs(meta: TableMeta, spec: Map[String, String]): Seq[Path] = {
    val tracked = meta.partitions.filter(p => matches(spec, p.spec))
      .map(GraftBatchWrite.dirOf(meta, _))
    val literal =
      if (spec.size == meta.partitionColumns.size)
        Seq(GraftBatchWrite.partitionDir(meta,
          meta.partitionColumns.map(c => c -> PartitionValues.lookup(spec, c).get).toMap))
      else Seq.empty
    (tracked ++ literal).distinct
  }

  /** Remove every file a static spec owns — the empty spec owns the
    * whole table, custom-LOCATION partitions included. Managed tables
    * RETIRE the files under `token` (q116: the pre-statement snapshot
    * stays restorable); EXTERNAL tables delete them. Shared by truncate,
    * static overwrite and partition DELETE FROM. */
  def retire(
      conf: org.apache.hadoop.conf.Configuration, meta: TableMeta,
      spec: Map[String, String], token: String): Unit = {
    def clear(d: Path): Unit = {
      val fs = d.getFileSystem(conf)
      if (spec.nonEmpty) fs.delete(d, true)
      else if (fs.exists(d)) fs.listStatus(d).foreach(s => fs.delete(s.getPath, true))
    }
    val custom = meta.partitions.flatMap(_.location).map(new Path(_))
    if (meta.external)
      (if (spec.isEmpty) new Path(meta.location) +: custom else matchDirs(meta, spec))
        .foreach(clear)
    else if (spec.isEmpty) {
      graft.catalog.Snapshots.retireTableRoot(conf, meta.location, token)
      custom.foreach(graft.catalog.Snapshots.retireDirTree(conf, meta.location, _, token))
    } else matchDirs(meta, spec)
      .foreach(graft.catalog.Snapshots.retireDirTree(conf, meta.location, _, token))
  }
}

/** Write modes, resolved from the `WriteBuilder` mixin calls the Catalyst
  * write plans make (AppendData / OverwriteByExpression /
  * OverwritePartitionsDynamic). */
private[write] sealed trait WriteMode
private[write] case object Append extends WriteMode
private[write] case object Truncate extends WriteMode
private[write] case class StaticOverwrite(spec: Map[String, String]) extends WriteMode
private[write] case object DynamicOverwrite extends WriteMode
/** Copy-on-write replacement for row-level DML ([[GraftRowLevelOperation]]):
  * `scanned` yields the partition specs the operation's scan read (None =
  * every partition), `scannedFiles` the exact data files its index
  * resolved — commit refuses to publish if the scanned dirs' live file
  * set has drifted (a concurrent append/delete committed after the scan
  * listed). Commit appends the replacement files normally, then deletes
  * each scanned partition's pre-commit files and deregisters scanned
  * partitions left empty — so scanned groups are replaced while
  * merge-inserts into unscanned partitions append. `rowSchema` is the
  * table row schema of the write, kept so the writer factory can strip
  * the rewrite's `__row_operation` marker column (see [[CowRowFactory]]);
  * `command` pins whether that marker must be present. */
private[write] case class CowReplace(
    scanned: () => Option[Seq[Map[String, String]]],
    scannedFiles: () => Option[Set[String]],
    rowSchema: org.apache.spark.sql.types.StructType,
    command: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
  extends WriteMode

/** Group-based `ReplaceData` queries may carry a leading
  * `__row_operation` marker column (int), and Spark strips it via
  * `ReplaceDataProjections` only when the operation declares metadata
  * columns — with none declared (`DataWritingSparkTask`), raw query rows
  * reach the connector writer. This factory wrapper strips the marker
  * with a single codegen'd projection, so the file writers always see
  * exactly the table row schema.
  *
  * Which shapes arrive (Spark 4.1.2, verified empirically):
  *  - UPDATE / MERGE rewrites ALWAYS carry the marker — width is pinned
  *    to `rowSchema.length + 1` and a marker-less row fails loudly;
  *  - DELETE rewrites carry it ONLY when the delete condition is not
  *    filter-translatable (e.g. `c % 7 = 3`): a translatable predicate
  *    produces bare table rows, a non-translatable one keeps the marker
  *    column. So DELETE accepts BOTH widths, and when the extra column
  *    is present field 0 is validated to hold one of
  *    [[RowDeltaUtils]]'s int operation codes before stripping — a
  *    Spark upgrade that moves the marker (or widens the row for any
  *    other reason) fails loudly instead of silently writing shifted
  *    rows into every column. */
private[write] class CowRowFactory(
    inner: DataWriterFactory,
    rowSchema: org.apache.spark.sql.types.StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
  extends DataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    import org.apache.spark.sql.catalyst.util.RowDeltaUtils
    val d = inner.createWriter(partitionId, taskId)
    val markerOptional =
      cmd == org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE
    val bare = rowSchema.length
    val validOps = Set(
      RowDeltaUtils.DELETE_OPERATION, RowDeltaUtils.UPDATE_OPERATION,
      RowDeltaUtils.INSERT_OPERATION, RowDeltaUtils.REINSERT_OPERATION,
      RowDeltaUtils.WRITE_OPERATION, RowDeltaUtils.WRITE_WITH_METADATA_OPERATION)
    new DataWriter[InternalRow] {
      private lazy val strip =
        org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
          rowSchema.fields.zipWithIndex.map { case (f, i) =>
            org.apache.spark.sql.catalyst.expressions
              .BoundReference(i + 1, f.dataType, f.nullable): org.apache.spark.sql.catalyst.expressions.Expression
          }.toIndexedSeq)
      private def shapeError(r: InternalRow, detail: String): Nothing =
        throw new IllegalStateException(
          s"row-level rewrite ($cmd) row has ${r.numFields} fields, table " +
            s"width $bare: $detail — Spark's ReplaceData row shape " +
            "changed; refusing to write a misaligned row")
      override def write(r: InternalRow): Unit = {
        if (r.numFields == bare + 1) {
          val op = if (r.isNullAt(0)) Int.MinValue else r.getInt(0)
          if (!validOps.contains(op))
            shapeError(r, s"leading field $op is not a __row_operation code")
          d.write(strip(r))
        } else if (r.numFields == bare && markerOptional) {
          d.write(r)
        } else {
          shapeError(r,
            if (markerOptional) s"expected $bare or ${bare + 1}"
            else s"expected ${bare + 1} (marker is mandatory for $cmd)")
        }
      }
      override def commit(): WriterCommitMessage = d.commit()
      override def abort(): Unit = d.abort()
      override def close(): Unit = d.close()
      override def currentMetricsValues() = d.currentMetricsValues()
    }
  }
}

/** Write builder (R14-R16): append, truncate, static-partition overwrite
  * (filter unwrap semantics of the reference,
  * /root/reference/.../HiveFileFormatWriteBuilder.scala:179-206, incl. the
  * `AlwaysTrue` truncate case) and dynamic partition overwrite.
  *
  * File IO is delegated to Spark's own per-task writer machinery
  * (`FileWriterFactory` → `SingleDirectoryDataWriter` /
  * `DynamicPartitionDataSingleWriter` via [[FileBatchWrite]]) — the same
  * delegation the reference does through `FileBatchWrite`
  * (HiveFileBatchWrite.scala:18). Dynamic overwrite rides the commit
  * protocol's staging-dir mode (partition dirs are replaced atomically at
  * job commit), which is exactly Spark's own dynamic-overwrite
  * implementation and therefore correct under task retries at cluster
  * scale.
  */
class GraftWriteBuilder(
    spark: SparkSession,
    store: MetaStore,
    db: String,
    meta: TableMeta,
    info: LogicalWriteInfo,
    autoSizeUpdate: Boolean = true,
    writeLockTimeoutSec: Long = graft.catalog.GraftConf.WriteLockTimeoutSec.default.get)
  extends WriteBuilder
  with SupportsTruncate
  with SupportsOverwrite
  with SupportsDynamicOverwrite {

  private var mode: WriteMode = Append

  override def truncate(): WriteBuilder = { mode = Truncate; this }

  /** Unwrap the delete predicate into a static partition spec — only
    * `And`/`EqualTo`/`EqualNullSafe` over partition columns qualify, with
    * `AlwaysTrue` meaning full truncate (the reference's exact rule,
    * HiveFileFormatWriteBuilder.scala:181-200). Shared with
    * `GraftTable.deleteWhere` via [[PartitionPredicates]]. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    PartitionPredicates.unwrap(spark, meta, filters) match {
      case Some(spec) if spec.isEmpty => mode = Truncate
      case Some(spec) => mode = StaticOverwrite(spec)
      case None => throw new UnsupportedOperationException(
        "overwrite supports only static partition predicates over " +
          s"partition columns of ${meta.name}, got: ${filters.mkString(", ")}")
    }
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    require(meta.isPartitioned,
      s"dynamic overwrite requires a partitioned table: ${meta.name}")
    mode = DynamicOverwrite
    this
  }

  override def build(): Write = {
    // Bucketed writes are SUPPORTED for the writable shape (any
    // SINGLE-column bucket spec, with or without identity partitions —
    // see GraftCatalog.writableBucketSpec and GraftWrite's
    // distribution): rows are hash-routed so each bucket lands in its
    // own file set (per partition directory, when partitioned) and the
    // scan can report the layout for storage-partitioned joins. A
    // multi-column declaration keeps the reference's record-but-refuse
    // posture (HiveFileFormatWriteBuilder.scala:124-136): silently
    // writing unbucketed data under a bucketed declaration would
    // corrupt every downstream bucket-join assumption.
    if (meta.properties.contains(graft.catalog.GraftCatalog.BucketCountProp) &&
        graft.catalog.GraftCatalog.writableBucketSpec(meta).isEmpty) {
      throw new UnsupportedOperationException(
        s"table ${meta.name} is bucketed (CLUSTERED BY " +
          s"${meta.properties(graft.catalog.GraftCatalog.BucketColumnsProp)} INTO " +
          s"${meta.properties(graft.catalog.GraftCatalog.BucketCountProp)} BUCKETS); " +
          "writes support only a single-column bucket spec — " +
          "multi-column bucket declarations are metadata-only")
    }
    new GraftWrite(spark, store, db, meta, info, mode, autoSizeUpdate,
      writeLockTimeoutSec)
  }
}

/** The physical write: required clustering/ordering by partition columns
  * (so each task writes few, large files per partition — the property
  * that keeps a 100 TB write from producing millions of tiny files), then
  * a [[FileBatchWrite]] delegate wrapped in the two-phase commit. */
class GraftWrite(
    spark: SparkSession,
    store: MetaStore,
    db: String,
    meta: TableMeta,
    info: LogicalWriteInfo,
    mode: WriteMode,
    autoSizeUpdate: Boolean = true,
    writeLockTimeoutSec: Long = graft.catalog.GraftConf.WriteLockTimeoutSec.default.get)
  extends Write with RequiresDistributionAndOrdering {

  private val partCols = meta.partitionColumns

  // `graft.cluster.by` (q88): user-declared sort clustering, validated
  // here as the backstop for ALTER-set values (createTable validates
  // eagerly). Ordering is enforced on EVERY write — append, overwrite,
  // compaction — so the property can never describe stale layout.
  private val clusterCols: Seq[String] =
    graft.catalog.GraftCatalog.validateClusterBy(
      meta.properties, meta.schema, partCols, meta.name)

  /** Writable bucket spec (single column, unpartitioned —
    * [[graft.catalog.GraftCatalog.writableBucketSpec]]). */
  private val bucket: Option[(Int, String)] =
    graft.catalog.GraftCatalog.writableBucketSpec(meta)

  override def requiredDistribution(): Distribution = bucket match {
    // Bucketed write: clustered on the BUCKET COLUMN with
    // requiredNumPartitions = N below. Spark plans this pair as a
    // HashPartitioning(col, N) exchange (RepartitionByExpression with a
    // pinned partition count — REPARTITION_BY_NUM, which AQE neither
    // coalesces nor splits), so shuffle partition id ==
    // pmod(murmur3(col), N) == the bucket id, each write task holds
    // exactly one whole bucket, and the task's FILE NAME (part-<id>-…,
    // named by the committer from the partition id) IS the bucket id
    // the scan side recovers. No per-row bucket computation anywhere —
    // the shuffle already did it. GraftBucketBound pins the identical
    // hash for the planner's view of the layout. When the table is ALSO
    // identity-partitioned (q103), the distribution stays bucket-only —
    // hashing (partCol, bucketCol) together would break partition id ==
    // bucket id — and the required ordering below (partition cols
    // first) makes each bucket task emit one file per partition
    // directory, so every part-<id> name under every directory still
    // carries its bucket id.
    case Some((_, col)) => Distributions.clustered(Array(
      Expressions.identity(col): org.apache.spark.sql.connector.expressions.Expression))
    case None =>
      if (partCols.isEmpty)
        // UNPARTITIONED + UNBUCKETED with a cluster declaration: the
        // write requires an ORDERED (range) distribution on the cluster
        // columns, so files land with DISJOINT key ranges — with
        // `graft.skipping.by` on the same columns this makes the table
        // self-range-clustering: every plain append is skippable, no
        // manual repartitionByRange in user code (the declared trade is
        // one range exchange per write, Delta's optimized-write shape).
        // Spark plans OrderedDistribution as a RangePartitioning
        // exchange with AQE-sized partitions (~advisory bytes per file
        // at scale). Partitioned/bucketed tables keep their clustered
        // distributions: there the cluster cols are a WITHIN-file sort
        // (requiredOrdering), not a cross-file range contract.
        if (clusterCols.nonEmpty)
          Distributions.ordered(clusterCols.map(c =>
            Expressions.sort(Expressions.identity(c),
              SortDirection.ASCENDING)).toArray)
        else Distributions.unspecified()
      else Distributions.clustered(partCols.map(c =>
        Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression).toArray)
  }

  override def requiredNumPartitions(): Int = bucket.map(_._1).getOrElse(0)

  /** Partition columns first (few large files per partition), then the
    * declared cluster columns: each task's rows arrive at the parquet
    * writer sorted by the cluster key, so row-group min-max statistics
    * become tight disjoint ranges and a range predicate on the key
    * skips non-matching row groups in the vectorized reader. */
  override def requiredOrdering(): Array[SortOrder] =
    (partCols ++ clusterCols).map(c =>
      Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)).toArray

  override def toBatch: BatchWrite = newEpochBatchWrite()

  /** Micro-batch streaming write (STREAMING_WRITE): each epoch is one
    * full batch append/truncate through [[newEpochBatchWrite]]'s
    * two-phase commit, made idempotent across query restarts by the
    * per-query epoch log in the table descriptor (see
    * [[GraftStreamingWrite]]). Append (stream append mode) and Truncate
    * (complete mode, via `SupportsTruncate`) are the streamable modes;
    * partition-filtered overwrite and row-level rewrites have no
    * streaming plan shape. */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    mode match {
      case Append | Truncate => ()
      case other => throw new UnsupportedOperationException(
        s"streaming write to ${meta.name} supports append/complete output " +
          s"modes only (requested write mode: $other)")
    }
    // Bucketed tables stream fine: the micro-batch planner routes each
    // epoch through the same RequiresDistributionAndOrdering surface as
    // a batch write (V2Writes' WriteToMicroBatchDataSource branch calls
    // DistributionAndOrderingUtils.prepareQuery — verified against the
    // 4.1.2 bytecode), so every epoch's files land hash-routed with
    // bucket-id names; BucketTableSpec gates the streamed layout.
    new GraftStreamingWrite(store, db, meta.name, info.queryId(),
      truncatesPerEpoch = mode == Truncate, () => newEpochBatchWrite())
  }

  /** One job-scoped batch write: fresh job id, committer and
    * [[FileBatchWrite]] per call — `toBatch` calls it once; the
    * streaming path calls it once per epoch. */
  private[write] def newEpochBatchWrite(): GraftBatchWrite = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val conf = spark.sessionState.conf
    // FIELD-ID MAPPING (round 20): the V2 output resolution delivers the
    // query's schema with the TABLE's names and types but NOT the table
    // fields' metadata — re-attach the descriptor's `parquet.field.id`s
    // by name so the parquet writer embeds them in every file (the read
    // side matches by id; a file written without ids would REFUSE to
    // read on an id-mapped table)
    val schema = graft.catalog.GraftCatalog.copyFieldIds(meta, info.schema())
    // the retirement token of THIS job: every file this commit removes
    // (truncate/static-overwrite sweeps here, the COW delete phase in
    // commit) renames under `_graft_retired/<token>/`, and the commit's
    // snapshot records the token so travel reads can resolve the files
    val retireToken = UUID.randomUUID().toString

    // Schema validation (R14/R15): duplicate columns + the per-format type
    // gate (CSV rejects nested types, JSON/parquet accept them) — the
    // reference's DataSource.validateSchema pattern
    // (CsvProviderFileWriteBuilder.scala:46-52, JsonProviderFileWriteBuilder.scala:46-57).
    val names = schema.fieldNames.map(_.toLowerCase)
    require(names.distinct.length == names.length,
      s"duplicate column names in write schema: ${schema.fieldNames.mkString(",")}")
    val format: FileFormat = meta.provider match {
      case "parquet" => new ParquetFileFormat
      case "csv" => new CSVFileFormat
      case "json" => new JsonFileFormat
      case "orc" => new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
      case "avro" => org.apache.spark.sql.graft.GraftSqlBridge.avroFileFormat()
      case other => throw new IllegalStateException(s"unsupported provider $other")
    }
    val partSet = partCols.map(_.toLowerCase).toSet
    val dataFields = schema.fields.filterNot(f => partSet.contains(f.name.toLowerCase))
    dataFields.foreach { f =>
      require(format.supportDataType(f.dataType),
        s"${meta.provider} does not support column ${f.name} of type ${f.dataType.sql}")
    }

    // Pre-write deletes for truncate / static overwrite — same upfront
    // semantics as Spark's own InsertIntoHadoopFsRelation and the
    // reference (HiveFileFormatWriteBuilder.scala:105-110). DEFERRED to
    // job start under the per-table write permit: running them here (at
    // planning) would let an overwrite delete a concurrent append's
    // staged _temporary files while that job still holds the permit.
    // Delete TARGETS come from a descriptor reloaded at execution time,
    // so a partition DDL committed between planning and job start (e.g.
    // ADD PARTITION ... LOCATION) is still owned by the truncate. (The
    // task-side customPartitionLocations remain a planning-time snapshot
    // — Spark bakes them into the job description — so partition DDL
    // racing an IN-FLIGHT append is the one interleaving writers must
    // still sequence themselves.)
    val preWriteDeletes: () => Unit = () => mode match {
      case Truncate => PartitionPredicates.retire(
        hadoopConf, store.loadTableLocked(db, meta.name), Map.empty, retireToken)
      case StaticOverwrite(spec) => PartitionPredicates.retire(
        hadoopConf, store.loadTableLocked(db, meta.name), spec, retireToken)
      case _ =>
    }

    // BLOOM SKIPPING (q112): have the parquet writer emit split-block
    // bloom filters for the declared columns; a FIXED expected NDV keeps
    // every row group's SBBF the same size, so commit-side maintenance
    // can merge them into one per-file filter in the skip-stats shard
    if (meta.provider == "parquet") {
      val ndv = graft.catalog.SkipStats.bloomNdv(meta.properties)
      graft.catalog.SkipStats.resolvedBloomCols(meta.properties, schema)
        .foreach { f =>
          hadoopConf.set(s"parquet.bloom.filter.enabled#${f.name}", "true")
          hadoopConf.set(s"parquet.bloom.filter.expected.ndv#${f.name}",
            ndv.toString)
        }
    }

    // DYNAMIC overwrite needs the task files to land under the commit
    // protocol's `.spark-staging-<job>` dir. With a FileOutputCommitter
    // the task path is the committer's WORK PATH, which hangs off the
    // committer's OUTPUT path — and SQLHadoopMapReduceCommitProtocol
    // only constructs the committer OVER THE STAGING DIR when a class is
    // registered under spark.sql.sources.outputCommitterClass (its
    // reflective (Path, TaskAttemptContext) branch). Parquet registers
    // ParquetOutputCommitter in prepareWrite, which is why parquet
    // dynamic overwrites always worked; orc/avro/csv/json register
    // nothing, the default committer resolved over the TABLE ROOT, and
    // the job died at commit renaming staging dirs that never existed.
    // Registering the plain FileOutputCommitter here routes every
    // provider through the staging-dir construction; parquet's
    // prepareWrite below still overrides it with its own committer.
    if (mode == DynamicOverwrite) {
      hadoopConf.setClass("spark.sql.sources.outputCommitterClass",
        classOf[org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter],
        classOf[org.apache.hadoop.mapreduce.OutputCommitter])
    }

    val job = Job.getInstance(hadoopConf)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, new Path(meta.location))

    val committer = FileCommitProtocol.instantiate(
      conf.fileCommitProtocolClass,
      jobId = UUID.randomUUID().toString,
      outputPath = meta.location,
      dynamicPartitionOverwrite = mode == DynamicOverwrite)

    val factory = format.prepareWrite(spark, job,
      graft.catalog.GraftCatalog.optionProps(meta.properties) ++
        info.options.asScala, DataTypeUtils.fromAttributes(
        DataTypeUtils.toAttributes(schema)
          .filterNot(a => partSet.contains(a.name.toLowerCase))))

    val allAttrs = DataTypeUtils.toAttributes(schema)
    val dataAttrs = allAttrs.filterNot(a => partSet.contains(a.name.toLowerCase))
    val partAttrs = partCols.map(c => allAttrs.find(_.name.equalsIgnoreCase(c)).getOrElse(
      throw new IllegalArgumentException(s"partition column $c missing from write schema")))

    val description = new WriteJobDescription(
      UUID.randomUUID().toString,
      new SerializableConfiguration(job.getConfiguration),
      factory,
      allAttrs,
      dataAttrs,
      partAttrs,
      None,
      meta.location,
      // partitions registered with an explicit LOCATION receive their
      // files there, not under the table-relative default dir — without
      // this the write silently orphans the custom-location data
      meta.partitions.collect {
        case p if p.location.isDefined => p.spec -> p.location.get
      }.toMap,
      conf.maxRecordsPerFile,
      conf.sessionLocalTimeZone,
      Seq.empty)

    committer.setupJob(job)
    new GraftBatchWrite(new FileBatchWrite(job, description, committer),
      spark, store, db, meta, mode, autoSizeUpdate, preWriteDeletes,
      writeLockTimeoutSec, retireToken)
  }

}

/** Two-phase commit (R17): filesystem commit first (task files published
  * or staged partition dirs swapped in), then the catalog commit — new
  * partitions diffed from the tasks' `WriteTaskResult.updatedPartitions`
  * (never a full listing — the reference's partition-diff at
  * HiveFileBatchWrite.scala:36-43), per-partition sizes and table stats
  * updated incrementally (R19, CatalogUtil.scala:13-26). */
class GraftBatchWrite(
    inner: FileBatchWrite,
    spark: SparkSession,
    store: MetaStore,
    db: String,
    meta: TableMeta,
    mode: WriteMode,
    autoSizeUpdate: Boolean = true,
    preWriteDeletes: () => Unit = () => (),
    writeLockTimeoutSec: Long = graft.catalog.GraftConf.WriteLockTimeoutSec.default.get,
    retireToken: String = UUID.randomUUID().toString)
  extends BatchWrite {

  /** Per-table write permit: concurrent append jobs to one table share
    * the table dir's `_temporary` staging, and the first job's
    * `commitJob` cleanup deletes the second job's staged files (a
    * vanilla FileOutputCommitter limitation). Hive serializes this with
    * table-level insert locks (DbLockManager); in-process, a semaphore
    * held from writer-factory creation (job start) to commit/abort is
    * the equivalent. Keyed by table location so renames/multi-catalog
    * setups over the same data serialize too. */
  // FS-qualified key ('/data/x' and 'file:///data/x' must share one
  // permit), derived by the same helper the lease uses — the two
  // derivations must stay byte-identical or hasLease stops matching
  /** Extra descriptor transform applied INSIDE the commit's one publish
    * ([[graft.catalog.Snapshots.publish]]) — the streaming path stamps its epoch-log property here
    * so "this epoch's data is registered" and "this epoch is marked
    * committed" are one atomic descriptor write. Batch writes leave it
    * as identity. */
  @volatile private[write] var metaExtra: TableMeta => TableMeta = identity

  /** Snapshot-kind override for wrappers that commit THROUGH this batch
    * write but are not plain appends — the merge-on-read DML commit
    * (q119) rides the Append machinery for its inserted files yet must
    * record kind `dml-mor`, e.g. so incremental append reads refuse
    * ranges containing it. Recorded by the same publish. */
  @volatile private[write] var kindOverride: Option[String] = None

  /** The intent record of a wrapper that commits THROUGH this batch
    * write — the merge-on-read DML commit's inserted files, DV batch and
    * DvMeta ([[IntentLog]]). COW and dynamic overwrite build their own. */
  @volatile private[write] var intent: Option[IntentLog.Intent] = None

  private val permitKey = GraftBatchWrite.qualifiedKey(spark, meta.location)
  private val writePermit =
    GraftBatchWrite.writeLocks
      .computeIfAbsent(permitKey, _ => new java.util.concurrent.Semaphore(1))
  @volatile private var permitHeld = false

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // guard the (unexpected) repeated call: the semaphore is not
    // reentrant, so re-acquiring our own permit would self-deadlock.
    // A write running INSIDE a maintenance lease on the same thread
    // (Compaction holds the permit across its plan+execute so the
    // self-scan's file listing can't race a concurrent append) skips
    // acquisition — the leaseholder owns the permit and releases it.
    if (!permitHeld && !GraftBatchWrite.hasLease(permitKey)) {
      if (!writePermit.tryAcquire(writeLockTimeoutSec,
          java.util.concurrent.TimeUnit.SECONDS)) {
        val holder = Option(GraftBatchWrite.writeLockHolders.get(permitKey))
          .map(h => s"; held by $h").getOrElse("")
        throw new IllegalStateException(
          s"timed out after ${writeLockTimeoutSec}s waiting for the write " +
            s"lock on $db.${meta.name}$holder — a longer concurrent write is " +
            "in flight; raise writeLockTimeoutSec on this table's catalog " +
            "to wait it out")
      }
      permitHeld = true
      GraftBatchWrite.writeLockHolders.put(permitKey,
        s"write job on $db.${meta.name} (mode $mode) since " +
          java.time.Instant.now())
    }
    // Spark invokes this OUTSIDE the try block whose handler calls
    // abort(), so a throw from here (deletes or the inner factory) would
    // otherwise leak the permit forever and wedge all writes to the table.
    try {
      // a crashed statement rolls forward or back first, while the
      // permit guarantees no other writer is mid-flight — nothing below,
      // this commit's snapshot GC included, can observe its half state
      IntentLog.repair(spark.sessionState.newHadoopConf(), store, db, meta)
      // repairs move/delete files WITHOUT bumping the descriptor seq
      // (the crashed commit never published) — listings cached before
      // the repair would keep planning the swept files
      graft.plans.ResolveDeletionVectors.invalidateListings()
      // truncate/static-overwrite deletes run HERE, now that no other
      // job's staged files can be under the table dir
      preWriteDeletes()
      val factory = inner.createBatchWriterFactory(info)
      mode match {
        case CowReplace(_, _, rowSchema, cmd) =>
          new CowRowFactory(factory, rowSchema, cmd)
        case _ => factory
      }
    } catch { case t: Throwable => releasePermit(); throw t }
  }

  private def releasePermit(): Unit =
    if (permitHeld) {
      permitHeld = false
      GraftBatchWrite.writeLockHolders.remove(permitKey)
      writePermit.release()
    }

  /** No commit coordinator, as in the reference (HiveFileBatchWrite.scala:25):
    * the commit protocol's task-attempt paths already make commits safe. */
  override def useCommitCoordinator(): Boolean = false

  /** COW pre-commit snapshot: the scanned partitions (resolved against
    * the live descriptor) and their current data files — everything the
    * rewrite must delete once its replacement files are published —
    * plus the write-TARGET dirs outside the scanned set (merge-inserts
    * into unscanned or brand-new partitions) with their pre-existing
    * files, so a rollback can tell the crashed rewrite's replacements
    * from data that must survive. */
  private case class CowSnapshot(
      scanned: Seq[Map[String, String]],
      dirs: Seq[(Map[String, String], Path)],
      oldFiles: Seq[Path],
      writeDirs: Seq[Path],
      keepFiles: Seq[Path])

  /** A dynamic overwrite's replaced files MOVE to the retirement area
    * just before `inner.commit`, whose partition swap would otherwise
    * delete them (reader exposure: the written dirs are empty for the
    * commitJob, not just per dir between delete and rename) — so time
    * travel and rollback work across dynamic overwrites, compaction
    * included. The moves are `M` lines of the statement's intent record
    * ([[IntentLog]]), with the written dirs as `W`. A failed move undoes
    * the record and degrades to the swap's delete (logged: travel then
    * refuses across this overwrite). */
  private def retireDynamicOverwrite(
      messages: Array[WriterCommitMessage],
      conf: org.apache.hadoop.conf.Configuration): Option[IntentLog.Record] = {
    val fresh = store.loadTableLocked(db, meta.name)
    if (fresh.external) return None
    val dirs = GraftBatchWrite.dirsOf(fresh, GraftBatchWrite.writtenSpecs(fresh, messages.toSeq)).distinct
    val moves = dirs.flatMap(GraftBatchWrite.dataFiles(_, conf)).map(f =>
      f -> graft.catalog.Snapshots.retiredPath(conf, fresh.location, f, retireToken))
    if (moves.isEmpty) return None
    var record: Option[IntentLog.Record] = None
    try {
      record = Some(IntentLog.write(conf, fresh.location, retireToken,
        IntentLog.Intent(writeDirs = dirs, moves = moves)))
      moves.foreach { case (from, to) =>
        val fs = from.getFileSystem(conf)
        fs.mkdirs(to.getParent)
        if (!fs.rename(from, to))
          throw new java.io.IOException(s"failed to retire $from to $to")
      }
      record
    } catch { case scala.util.control.NonFatal(e) =>
      // a failed undo fails the statement: its record repairs at the next write
      record.foreach(IntentLog.undo(conf, store, db, _))
      org.slf4j.LoggerFactory.getLogger(classOf[GraftBatchWrite]).warn(
        s"dynamic overwrite of $db.${meta.name}: retiring the replaced files " +
          "failed, so the partition swap deletes them and time travel cannot " +
          s"cross this overwrite: $e")
      None
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = try {
    // COW: snapshot the scanned groups' files BEFORE the FS commit
    // publishes replacement files into the same directories — afterwards
    // old and new files are indistinguishable by listing.
    val hadoopConf = spark.sessionState.newHadoopConf()
    val cowSnapshot: Option[CowSnapshot] = mode match {
      case CowReplace(scannedThunk, _, _, _) =>
        val fresh = store.loadTableLocked(db, meta.name)
        if (fresh.partitionColumns.isEmpty) {
          Some(CowSnapshot(Nil, Nil,
            GraftBatchWrite.dataFiles(new Path(fresh.location), hadoopConf), Nil, Nil))
        } else {
          val scanned = scannedThunk().getOrElse(fresh.partitions.map(_.spec))
          val dirs = scanned.zip(GraftBatchWrite.dirsOf(fresh, scanned))
          // Write-target dirs OUTSIDE the scanned set (merge-inserts into
          // unscanned or brand-new partitions), resolved from the tasks'
          // commit messages — they exist before inner.commit publishes.
          // Their current listing is the pre-existing data a rollback
          // must preserve; anything beyond it is the crashed rewrite's.
          val scannedSet = scanned.toSet
          val writeDirs = GraftBatchWrite.dirsOf(fresh,
            GraftBatchWrite.writtenSpecs(fresh, messages.toSeq).filterNot(scannedSet.contains))
            .distinct
          Some(CowSnapshot(scanned, dirs,
            dirs.flatMap(d => GraftBatchWrite.dataFiles(d._2, hadoopConf)),
            writeDirs, writeDirs.flatMap(GraftBatchWrite.dataFiles(_, hadoopConf))))
        }
      case _ => None
    }

    // Write-write conflict check, BEFORE publishing: the permit is held
    // from job start, but the COW scan listed its files at PLAN time —
    // a write that committed in between is invisible to the rewrite yet
    // present in the snapshot above, so completing this commit would
    // delete its rows without having rewritten them. Fail here instead:
    // inner.abort cleans our staging and the concurrent write survives.
    for {
      cs <- cowSnapshot
      expected <- mode match {
        case CowReplace(_, filesThunk, _, _) => filesThunk()
        case _ => None
      }
    } {
      val live = cs.oldFiles.map(_.toString).toSet
      if (live != expected) {
        val appeared = live.diff(expected)
        val vanished = expected.diff(live)
        throw new IllegalStateException(
          s"concurrent write detected on $db.${meta.name}: the row-level " +
            s"rewrite scanned ${expected.size} data files but the scanned " +
            s"directories now hold ${live.size} " +
            s"(${appeared.size} new, ${vanished.size} removed) — aborting " +
            "the rewrite so the concurrent write's data survives; re-run " +
            "the statement")
      }
    }

    // the statement's intent record, persisted BEFORE publishing
    // ([[IntentLog]]) — a crash after inner.commit is then repairable
    // instead of leaving duplicates, emptied dirs or orphan DV batches
    val record: Option[IntentLog.Record] = mode match {
      case DynamicOverwrite => retireDynamicOverwrite(messages, hadoopConf)
      case _ => cowSnapshot.map(cs => IntentLog.Intent(
        dirs = if (cs.dirs.nonEmpty) cs.dirs.map(_._2) else Seq(new Path(meta.location)),
        deletes = cs.oldFiles, writeDirs = cs.writeDirs, keeps = cs.keepFiles))
        .orElse(intent)
        .map(IntentLog.write(hadoopConf, meta.location, retireToken, _))
    }
    // Test-only crash injection: die between the retirement moves and
    // the FS commit (outside the in-JVM undo, like a real death)
    GraftBatchWrite.crashBeforeFsCommit.foreach(f => f())
    try inner.commit(messages)
    catch { case t: Throwable =>
      // in-JVM commit failure: the statement never happened — undo its
      // record eagerly, then let the abort path clean the staging
      record.foreach(r => try IntentLog.undo(hadoopConf, store, db, r)
        catch { case scala.util.control.NonFatal(u) => t.addSuppressed(u) })
      throw t
    }
    // Test-only crash injection: die between the FS commit (replacement
    // files just published) and everything that follows — the marker,
    // the deletes, and the catalog registration. WritePathSpec drives
    // the two-phase-commit recovery contract through this point.
    GraftBatchWrite.crashAfterFsCommit.foreach(f => f())
    // THE commit point: from here on a crash rolls the statement forward,
    // and the repair's roll-forward publishes its lineage head
    record.foreach(IntentLog.commit(hadoopConf, _))
    // COW: replacements are live — removing the snapshot completes the
    // group rewrite. Managed tables RETIRE the old files (q116 — the
    // pre-rewrite snapshot stays restorable); external tables and
    // out-of-root custom-location files delete as before. (A reader
    // between the two steps can see old+new rows; see
    // GraftRowLevelOperation's atomicity note.)
    cowSnapshot.foreach(_.oldFiles.foreach { f =>
      if (meta.external ||
          !graft.catalog.Snapshots.retireFile(hadoopConf, meta.location, f, retireToken))
        f.getFileSystem(hadoopConf).delete(f, false)
    })
    // per-path FileSystem: a partition registered with a custom LOCATION
    // may live on a different scheme than the table root, and the
    // root FS would throw "Wrong FS" on it
    def sizeOf(p: Path): Long = {
      val pfs = p.getFileSystem(hadoopConf)
      if (pfs.exists(p)) pfs.getContentSummary(p).getLength else 0L
    }

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    // Dedicated bounded I/O pool + finite deadlines (the SkipStats
    // contract): these listing fan-outs run while the write permit —
    // and, for the repair pass, the metastore monitor — is held, so a
    // hung filesystem must degrade (Unsized placeholders, repaired by
    // the next sizing commit) instead of wedging every writer.
    implicit val ioEc: scala.concurrent.ExecutionContext =
      graft.catalog.GraftIO.ec

    // The getContentSummary sizing pass runs BEFORE entering
    // MetaStore.updateTable's per-table monitor: the written dirs are
    // stable while this job holds the write permit, and a
    // thousand-partition listing pass (minutes of recursive-listing
    // RPCs) must not hold the metastore lock — ALTER, partition DDL and
    // drops on the table would block on it for the duration. The
    // snapshot shards' listing of the touched dirs runs before it too
    // (Snapshots.publish). Only the stale-placeholder repair (rare,
    // one-shot), the merge and the small snapshot writes run under the
    // lock.
    val snapshot = store.loadTableLocked(db, meta.name)
    val writtenSpecs = GraftBatchWrite.writtenSpecs(snapshot, messages.toSeq)
    // set-based membership: the passes inside the publish run in the
    // per-table critical section, and Seq scans would be O(base ×
    // written) on the thousand-partition backfill this code budgets for
    val writtenSet = writtenSpecs.toSet
    // directories whose live file list this commit changed — the
    // skip-stats and snapshot shards are rebuilt for them only, never
    // the table (the sharding contract) — and the registration and
    // stats edit of the one publish below
    var touched: Seq[String] = Nil
    var register: TableMeta => TableMeta = identity
    if (snapshot.partitionColumns.isEmpty) {
      // autoSizeUpdate=false: invalidate-don't-recompute (reference
      // CatalogUtil.scala:31-48) — clear stats so the planner falls
      // back to listing-based sizing instead of trusting stale numbers,
      // and skip the getContentSummary pass entirely.
      val tableStats =
        if (autoSizeUpdate) Some(TableStats(sizeOf(new Path(snapshot.location)), None))
        else None
      register = _.copy(stats = tableStats)
      touched = Seq(snapshot.location)
    } else {
      // COW: a scanned partition that received no replacement files lost
      // every row to the rewrite — remove its now-empty dir and
      // deregister it below (partitions are never left registered over
      // empty dirs; DELETE/overwrite behave the same way).
      val cowEmptied: Set[Map[String, String]] = cowSnapshot match {
        case Some(cs) =>
          cs.dirs.collect {
            case (s, d) if !writtenSet.contains(s) &&
              GraftBatchWrite.dataFiles(d, hadoopConf).isEmpty =>
              d.getFileSystem(hadoopConf).delete(d, true)
              s
          }.toSet
        case None => Set.empty
      }
      // One getContentSummary per written partition — a recursive
      // listing RPC each. Serially that is minutes of driver dead time
      // on a thousand-partition backfill, so size them concurrently
      // (bounded by the FS client; results are order-independent).
      // With autoSizeUpdate off, partitions are still REGISTERED (that
      // is correctness, not stats) but unsized, and table stats clear.
      val snapLocBySpec = snapshot.partitions
        .collect { case p if p.location.isDefined => p.spec -> p.location }.toMap
      val written = try Await.result(
        Future.traverse(writtenSpecs) { spec => Future {
          // a pre-registered custom LOCATION survives the write (the
          // files just landed there via customPartitionLocations)
          val p = PartitionMeta(spec, snapLocBySpec.getOrElse(spec, None))
          p.copy(sizeInBytes =
            if (!autoSizeUpdate) PartitionMeta.Unsized
            else try sizeOf(GraftBatchWrite.dirOf(snapshot, p)) catch {
              // this pass runs OUTSIDE the metastore monitor, so
              // concurrent partition DDL can delete the dir between
              // exists() and getContentSummary — that must not fail a
              // commit whose files are already published. Register
              // Unsized; the next sizing commit repairs it.
              case _: java.io.FileNotFoundException => PartitionMeta.Unsized
            })
        } }, graft.catalog.GraftIO.footerReadDeadline(writtenSpecs.size))
      catch {
        // registration is correctness, sizing is not: on a hung
        // filesystem register every written partition Unsized — the
        // next sizing commit repairs each exactly once
        case _: java.util.concurrent.TimeoutException =>
          writtenSpecs.map(spec =>
            PartitionMeta(spec, snapLocBySpec.getOrElse(spec, None),
              PartitionMeta.Unsized))
      }
      // Touched dirs = dirs whose LIVE FILE LIST this commit changed —
      // written partitions PLUS every COW-scanned (and write-target)
      // directory: a scanned partition whose file was fully retired with
      // no replacement written there (a DELETE emptying one file while
      // the partition keeps others, an UPDATE moving its rows elsewhere)
      // is not in `written`, and reusing the parent snapshot shard for
      // it would record the just-retired file as live — the head
      // snapshot would then refuse travel/rollback ("no longer
      // restorable") and the staleness would persist through pointer
      // reuse in every later commit. The same dirs' skip-stats shards
      // would keep the retired file's entry, so both maintenance passes
      // take the union.
      val cowTouchedDirs: Seq[String] = cowSnapshot.toSeq.flatMap(cs =>
        cs.dirs.map(_._2.toString) ++ cs.writeDirs.map(_.toString))
      touched = (written.map(GraftBatchWrite.dirOf(snapshot, _).toString) ++
        cowTouchedDirs).distinct
      // Atomic descriptor update: concurrent commits to different
      // partitions of the same table must both land their registrations.
      register = { current =>
        val base = mode match {
          case Truncate => Nil
          case StaticOverwrite(spec) =>
            current.partitions.filterNot(p => PartitionPredicates.matches(spec, p.spec))
          case _: CowReplace =>
            current.partitions.filterNot(p => cowEmptied.contains(p.spec))
          case _ => current.partitions
        }
        val curLocBySpec = current.partitions
          .collect { case p if p.location.isDefined => p.spec -> p.location }.toMap
        // Partition DDL between the pre-lock snapshot and this critical
        // section invalidates a pre-computed size: a LOCATION re-point
        // moved the data, and a DROP PARTITION (spec present in the
        // snapshot, gone from the locked state) deleted the dir we
        // sized — registering the stale bytes would put phantom data in
        // the stats. Either way the partition goes in Unsized at its
        // current location; the next sizing commit repairs it
        // (one-shot, recording the dir's actual — possibly 0 — size).
        val curSpecSet = current.partitions.map(_.spec).toSet
        val snapSpecSet = snapshot.partitions.map(_.spec).toSet
        val writtenAdjusted = written.map { p =>
          val curLoc = curLocBySpec.getOrElse(p.spec, None)
          val droppedMeanwhile =
            snapSpecSet.contains(p.spec) && !curSpecSet.contains(p.spec)
          if (droppedMeanwhile || curLoc != p.location)
            PartitionMeta(p.spec, curLoc, PartitionMeta.Unsized)
          else p
        }
        // A sizing commit also repairs partitions still carrying the
        // Unsized placeholder (left by an autoSizeUpdate=off commit or a
        // bare ADD PARTITION) — exactly once each: after repair a
        // genuinely empty partition records 0 (sized), so it is never
        // re-listed on later commits. Repair must read the locked state
        // (it targets partitions this job did not write), so it stays
        // under the lock — bounded by the one-shot property.
        val staleSpecs =
          if (autoSizeUpdate)
            base.filter(p => !p.isSized && !writtenSet.contains(p.spec))
              .map(_.spec)
          else Nil
        val repaired = try Await.result(
          Future.traverse(staleSpecs) { spec => Future {
            val p = PartitionMeta(spec, curLocBySpec.getOrElse(spec, None))
            p.copy(sizeInBytes = sizeOf(GraftBatchWrite.dirOf(current, p)))
          } }, graft.catalog.GraftIO.footerReadDeadline(staleSpecs.size))
        catch {
          // repair is one-shot by design — skipping it here just leaves
          // the placeholders for the next sizing commit to retry
          case _: java.util.concurrent.TimeoutException => Nil
        }
        val merged0 = writtenAdjusted ++ repaired
        val mergedSpecSet = merged0.map(_.spec).toSet
        val merged = base.filterNot(p => mergedSpecSet.contains(p.spec)) ++ merged0
        current.copy(
          partitions = merged,
          stats =
            if (autoSizeUpdate && merged.forall(_.isSized))
              Some(TableStats(merged.map(_.sizeInBytes).sum, None))
            else None)
      }
    }
    val inert = inertDeleteVectors(snapshot, hadoopConf)
    val kind = kindOverride.getOrElse(mode match {
      case Append => "append"
      case Truncate => "truncate"
      case StaticOverwrite(_) => "overwrite"
      case DynamicOverwrite => IntentLog.snapshotKind("dynamic-overwrite")
      case _: CowReplace => IntentLog.snapshotKind("cow")
    })
    // THE publish: registration, stats, deletion vectors, the wrapper's
    // edit and the lineage head (q116: fresh shards for the touched dirs,
    // parent pointers for the rest) in one descriptor update
    val published = graft.catalog.Snapshots.publish(hadoopConf, store, db, meta.name,
      kind, retireToken, if (snapshot.external) Nil else touched) { current =>
      restoreSortTrust(current, metaExtra(register(current)), writtenSet, inert)
    }
    // Test-only crash injection: die right after the publish
    GraftBatchWrite.crashAfterPublish.foreach(f => f())
    // per-file skip-stats shards: each TOUCHED directory's shard is
    // rebuilt against its live files (new files read their footer once)
    // under the same permit — advisory, never fails the commit
    graft.catalog.SkipStats.maintainDirs(spark, touched,
      snapshot.schema, snapshot.properties, snapshot.provider)
    if (!published.external) graft.catalog.Snapshots.gc(hadoopConf, published)
    // the statement is complete: its record retires (before its marker)
    record.foreach(IntentLog.finish(hadoopConf, _))
    FileStatusCache.getOrCreate(spark).invalidateAll()
  } finally releasePermit()

  /** The sort-trust and deletion-vector rules of a commit that replaced
    * files, applied inside the publish to the edited descriptor `m`
    * (`current` is the state it was derived from):
    *  - a TRUNCATE, or a dynamic overwrite that rewrote every registered
    *    partition (partitioned compaction), replaced every live file with
    *    freshly written (engine-sorted) ones — if the table declares
    *    cluster columns, the sort-trust marker restores: per-file
    *    cluster-key sortedness holds table-wide again (the cure for an
    *    EXTERNAL create or an ALTER-changed declaration);
    *  - a truncate retired every file any live deletion vector applied
    *    to, so every batch clears; otherwise the `inert` batches drop
    *    ([[inertDeleteVectors]]). Older snapshots keep their own dv lists
    *    for travel. */
  private def restoreSortTrust(current: TableMeta, m: TableMeta,
      written: Set[Map[String, String]], inert: Set[String]): TableMeta = {
    val replacedAll = mode == Truncate || (mode == DynamicOverwrite &&
      current.isPartitioned && current.partitions.forall(p => written.contains(p.spec)))
    m.copy(
      deleteVectors =
        if (mode == Truncate) Nil else m.deleteVectors.filterNot(d => inert.contains(d.token)),
      properties =
        if (replacedAll && graft.catalog.GraftCatalog.clusterColumns(m.properties).nonEmpty)
          m.properties + (graft.catalog.GraftCatalog.ClusterSortedProp -> "true")
        else m.properties)
  }

  /** Tokens of the live deletion-vector batches none of whose
    * `appliesTo` files is live after this commit's file moves — a
    * rewrite that reads through the anti-join (compaction) has
    * materialized their deletes. Runs here, before the publish, and only
    * when the table has live batches and the mode retires files: an
    * overwrite (a truncate clears every batch instead; a copy-on-write
    * rewrite never runs over live batches). Lists only the registered
    * dirs of `m` that hold some batch's `appliesTo` file, so the cost
    * grows with the batches, never the table. Torn manifests are
    * conservatively kept. */
  private def inertDeleteVectors(
      m: TableMeta, conf: org.apache.hadoop.conf.Configuration): Set[String] = mode match {
    case StaticOverwrite(_) | DynamicOverwrite if m.deleteVectors.nonEmpty =>
      def qualify(p: Path): String = p.getFileSystem(conf).makeQualified(p).toString
      val applies = m.deleteVectors.flatMap(dv =>
        DvManifest.read(conf, dv.manifest).map(r => dv.token -> r._2.map(a => qualify(new Path(a)))))
      val registered =
        (if (m.isPartitioned) m.partitions.map(GraftBatchWrite.dirOf(m, _))
         else Seq(new Path(m.location))).map(qualify).toSet
      val live = applies.flatMap(_._2).map(a => new Path(a).getParent.toString).distinct
        .filter(registered)
        .flatMap(d => GraftBatchWrite.dataFiles(new Path(d), conf)).map(qualify).toSet
      applies.collect { case (token, files) if !files.exists(live) => token }.toSet
    case _ => Set.empty
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    try inner.abort(messages) finally releasePermit()
}

object GraftBatchWrite {
  /** Table-root directory holding the intent records ([[IntentLog]];
    * underscore-prefixed: invisible to every scan listing). */
  private[graft] val TxnDirName = "_graft_txn"

  /** Test-only failpoint: when set, every batch commit invokes it right
    * after the FS commit publishes files and before the catalog phase —
    * throwing from it simulates a writer killed between the two phases
    * (the `inner.abort` that follows cannot un-publish committed files,
    * exactly like a real death). Never set outside tests. */
  @volatile private[graft] var crashAfterFsCommit: Option[() => Unit] = None

  /** Test-only failpoint: fires right after a batch commit's one
    * descriptor publish, before the skip-stats shards, the snapshot GC
    * and the record's removal — throwing from it simulates a writer
    * killed after its data and lineage went live. Never set outside
    * tests. */
  @volatile private[graft] var crashAfterPublish: Option[() => Unit] = None

  /** Test-only failpoint: fires between a dynamic overwrite's
    * retirement moves and the FS commit (OUTSIDE the in-JVM undo, like
    * a real death) — a marker-less record with its moves executed. */
  @volatile private[graft] var crashBeforeFsCommit: Option[() => Unit] = None

  /** Per-table-location write permits (see `writePermit`). */
  private val writeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.Semaphore]()

  /** Best-effort description of each permit's current holder, so a
    * timed-out waiter can name what it waited on. Written only by the
    * holder (after acquire, before release) — purely diagnostic. */
  private val writeLockHolders =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Locations whose permit is held by a maintenance-op lease, mapped to
    * the thread that took the lease (see [[leaseWritePermit]]). An
    * owner MAP (not a ThreadLocal) so the release thunk works from any
    * thread without poisoning the acquiring thread's state, while
    * `hasLease` still answers per-thread: only the leasing thread's own
    * nested write bypasses the semaphore. */
  private val leaseOwners =
    new java.util.concurrent.ConcurrentHashMap[String, Thread]()

  private[write] def hasLease(key: String): Boolean =
    leaseOwners.get(key) eq Thread.currentThread()

  private[write] def qualifiedKey(spark: SparkSession, location: String): String = {
    val p = new Path(location)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toUri.toString
  }

  /** Acquire a table location's write permit for a maintenance operation
    * that must span PLANNING and execution of a write (e.g. compaction's
    * self-scan: the file listing happens at plan time, before the write
    * job itself would acquire the permit — without the lease a
    * concurrent append could commit between listing and overwrite and be
    * silently erased by the rewrite). Nested writes on the SAME thread
    * see the lease and skip acquisition; writes from other threads
    * queue on the semaphore as usual. Waits at most `timeoutSec` (same
    * contract and holder-naming as an ordinary write's acquisition).
    * Returns the release thunk, callable from any thread. */
  private[graft] def leaseWritePermit(
      spark: SparkSession, location: String, holder: String,
      timeoutSec: Long = graft.catalog.GraftConf.WriteLockTimeoutSec.default.get)
    : () => Unit = {
    val key = qualifiedKey(spark, location)
    val sem = writeLocks.computeIfAbsent(key,
      _ => new java.util.concurrent.Semaphore(1))
    if (!sem.tryAcquire(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)) {
      val h = Option(writeLockHolders.get(key)).map(x => s"; held by $x").getOrElse("")
      throw new IllegalStateException(
        s"timed out after ${timeoutSec}s waiting for the write lock on " +
          s"$location$h — raise writeLockTimeoutSec on this table's catalog " +
          "to wait it out")
    }
    writeLockHolders.put(key, holder)
    val owner = Thread.currentThread()
    leaseOwners.put(key, owner)
    // idempotent: a double invocation (retry wrapper, duplicated finally)
    // must not release a permit twice — that would raise the semaphore
    // to 2 and silently break write mutual exclusion for the table
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    () => if (released.compareAndSet(false, true)) {
      leaseOwners.remove(key, owner)
      writeLockHolders.remove(key)
      sem.release()
    }
  }

  /** Txn-manifest NAMES created by THIS JVM's writers (UUID-tokened, so
    * name matching is collision-free; bounded LRU — the registry is only
    * consulted for residue still on disk, which is recent by
    * construction). Repair-at-READ may consume a FRESH manifest only
    * when its writer is provably this JVM: writes are synchronous, so an
    * owned manifest still present while the permit is free means its
    * writer crashed. A FOREIGN fresh manifest may belong to a LIVE
    * writer in another driver (its txn files exist BEFORE its FS
    * commit) — consuming it would delete that writer's in-flight state,
    * so readers wait out the write-lease timeout instead (the torn-CAS
    * staleness rule). Write-side repair, which holds the real permit, is
    * unaffected. */
  private val ownedTxn: java.util.Map[String, java.lang.Boolean] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, java.lang.Boolean](64, 0.75f, false) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
          size() > 10000
      })

  private[graft] def ownTxnFile(name: String): Unit = {
    ownedTxn.put(name, java.lang.Boolean.TRUE)
    ()
  }

  private[graft] def ownsTxnFile(name: String): Boolean =
    ownedTxn.containsKey(name)

  /** REPAIR-AT-READ (VERDICT r18 "next" #4): heal crash residue from a
    * READ path — `loadTable` probes the table's `_graft_txn` dir and
    * calls this when an intent record is present, so a reader AFTER a
    * crashed statement sees the repaired state without waiting for the
    * next write to run the same [[IntentLog.repair]]. Non-blocking:
    * if the permit is held, a LIVE writer owns the table — it already
    * repaired at its own job start — so the read proceeds against the
    * writer-consistent state (tryAcquire, never wait). Returns true iff
    * the repairs ran (the caller reloads the descriptor then). */
  private[graft] def readRepair(
      spark: SparkSession, store: MetaStore, db: String,
      meta: TableMeta): Boolean = {
    val key = qualifiedKey(spark, meta.location)
    val sem = writeLocks.computeIfAbsent(key,
      _ => new java.util.concurrent.Semaphore(1))
    if (!sem.tryAcquire()) return false
    writeLockHolders.put(key,
      s"read-repair of $db.${meta.name} since ${java.time.Instant.now()}")
    try {
      IntentLog.repair(spark.sessionState.newHadoopConf(), store, db, meta)
      // same rule as the write-side repair block: swept files may be
      // sitting in listings cached under an unchanged (dir, seq, tokens)
      graft.plans.ResolveDeletionVectors.invalidateListings()
      true
    } finally {
      writeLockHolders.remove(key)
      sem.release()
    }
  }

  /** Test hook: grab/release a location's permit as an external "job"
    * would (NO thread lease — the current thread's own writes must
    * still time out against it), so specs can exercise the
    * waiter-timeout path without a multi-minute concurrent write. */
  private[graft] def holdPermitForTest(
      spark: SparkSession, location: String, holder: String): () => Unit = {
    val key = qualifiedKey(spark, location)
    val sem = writeLocks.computeIfAbsent(key,
      _ => new java.util.concurrent.Semaphore(1))
    sem.acquire()
    writeLockHolders.put(key, holder)
    () => { writeLockHolders.remove(key); sem.release() }
  }

  /** `col=v/col2=v2` path fragment → spec, unescaping Hive path encoding,
    * normalizing column case against the declared partition columns. */
  def parseFragment(meta: TableMeta, fragment: String): Map[String, String] =
    fragment.split("/").filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      val col = meta.partitionColumns.find(_.equalsIgnoreCase(
        ExternalCatalogUtils.unescapePathName(k))).getOrElse(
        ExternalCatalogUtils.unescapePathName(k))
      col -> ExternalCatalogUtils.unescapePathName(v)
    }.toMap

  def partitionDir(meta: TableMeta, spec: Map[String, String]): Path =
    meta.partitionColumns.foldLeft(new Path(meta.location)) { (dir, col) =>
      new Path(dir, ExternalCatalogUtils.getPartitionPathString(col,
        PartitionValues.lookup(spec, col).getOrElse(PartitionValues.NullName)))
    }

  /** A partition's data dir: its custom LOCATION, else the
    * table-relative default. */
  def dirOf(meta: TableMeta, p: PartitionMeta): Path =
    p.location.fold(partitionDir(meta, p.spec))(new Path(_))

  /** [[dirOf]] for specs, resolved against `meta`'s registrations. */
  def dirsOf(meta: TableMeta, specs: Seq[Map[String, String]]): Seq[Path] = {
    val registered = meta.partitions.map(p => p.spec -> p).toMap
    specs.map(s => dirOf(meta, registered.getOrElse(s, PartitionMeta(s, None))))
  }

  /** The partition specs a write's tasks wrote into. */
  def writtenSpecs(
      meta: TableMeta, messages: Seq[WriterCommitMessage]): Seq[Map[String, String]] =
    messages.collect { case w: WriteTaskResult => w.summary.updatedPartitions }
      .flatten.distinct.map(parseFragment(meta, _))

  /** Direct data files of a dir (hidden/underscore names are committer
    * metadata, never table data); none when the dir does not exist. */
  private[graft] def dataFiles(
      dir: Path, conf: org.apache.hadoop.conf.Configuration): Seq[Path] =
    IntentLog.list(dir.getFileSystem(conf), dir).collect {
      case s if s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".") => s.getPath
    }
}
