package graft.catalog

import java.util

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.write.GraftBatchWrite

/** METADATA TABLES — the Iceberg inspection UX over the engine's
  * catalog: `<table>$files` and `<table>$partitions` resolve as
  * read-only relations (the `$`-suffix convention; `$` is therefore
  * refused in CREATE TABLE names), serving the physical layout as
  * queryable rows:
  *
  *  - `t$files`: one row per live data file — `(file_name, partition,
  *    size_bytes, record_count)`. `record_count` is exact for the
  *    self-describing columnar formats (parquet footer row counts, orc
  *    tail `getNumberOfRows`) and NULL for row formats.
  *  - `t$partitions`: one row per registered partition (one row total
  *    for unpartitioned tables, partition = NULL) — `(partition,
  *    file_count, size_bytes, row_count)`, row_count summed from the
  *    files' exact counts (NULL if any file's count is unknown).
  *
  * Served as a [[LocalScan]]: the rows ARE driver-side metadata (a
  * listing + one footer tail read per file), so executing them as a
  * local relation is the honest plan — there is no distributed work to
  * schedule. At 100 TB the cost is ∝ FILES like every Iceberg
  * files-table query; partition-scoped inspection should filter the
  * `partition` column (the listing itself is per registered partition,
  * so a future pushdown could prune it — today the whole listing is
  * materialized, which matches the reference's SHOW-PARTITIONS-scale
  * metadata posture).
  *
  * The listing resolves each partition's registered LOCATION (custom
  * locations included) exactly like the read path, so the rows agree
  * with what a scan would read. Foreign/unregistered files under the
  * table root of a PARTITIONED table are invisible to both — also in
  * agreement.
  */
class GraftMetadataTable(
    spark: SparkSession,
    baseName: String,
    meta: TableMeta,
    kind: String)
  extends Table with SupportsRead {

  import GraftMetadataTable._

  override def name(): String = s"$baseName$$$kind"

  override def schema(): StructType = kind match {
    case "files" => FilesSchema
    case "partitions" => PartitionsSchema
    case "history" => HistorySchema
    case "snapshots" => SnapshotsSchema
    case "deletes" => DeletesSchema
    case other => throw new IllegalArgumentException(s"unknown metadata table $other")
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = schema()
        override def rows(): Array[InternalRow] = computeRows()
        override def description(): String = s"GraftMetadataScan ${name()}"
      }
    }

  /** The live listing, one row per file / per partition / per retired
    * generation. */
  private def computeRows(): Array[InternalRow] = {
    val conf = spark.sessionState.newHadoopConf()
    if (kind == "history") {
      // newest first, versions_back = 1 is what sys.rollback restores;
      // `live` reports whether the namespace vacuum has reclaimed it
      return meta.history.zipWithIndex.map { case (g, i) =>
        val p = new Path(g.location)
        val live = try p.getFileSystem(conf).exists(p)
          catch { case NonFatal(_) => false }
        new GenericInternalRow(Array[Any](
          (i + 1).toLong,
          UTF8String.fromString(g.provider),
          UTF8String.fromString(g.location),
          g.retiredAtMs,
          live)).asInstanceOf[InternalRow]
      }.toArray
    }
    if (kind == "deletes") {
      // oldest first (registration order); applies_to_files from the
      // batch manifest — one tiny JSON read per live batch
      return meta.deleteVectors.map { dv =>
        val applies = graft.catalog.write.DvManifest.read(conf, dv.manifest)
          .map(_._2.size.toLong).getOrElse(-1L)
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(dv.token),
          UTF8String.fromString(dv.keyColumn),
          dv.keys,
          dv.createdAtMs,
          applies)).asInstanceOf[InternalRow]
      }.toArray
    }
    if (kind == "snapshots") {
      // newest first; versions_back = 0 is the CURRENT state, 1 is what
      // VERSION AS OF 1 serves and sys.rollback restores
      return meta.snapshots.zipWithIndex.map { case (s, i) =>
        new GenericInternalRow(Array[Any](
          s.version,
          i.toLong,
          s.tsMs,
          UTF8String.fromString(s.kind))).asInstanceOf[InternalRow]
      }.toArray
    }
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    // (partition fragment or null, dir) — the same dirs the scan reads
    val dirs: Seq[(Option[String], Path)] =
      if (!meta.isPartitioned) Seq((None, new Path(meta.location)))
      else meta.partitions.map { pm =>
        val frag = meta.partitionColumns.map(c =>
          s"$c=${PartitionValues.lookup(pm.spec, c).getOrElse("")}").mkString("/")
        (Some(frag), pm.location.map(new Path(_))
          .getOrElse(GraftBatchWrite.partitionDir(meta, pm.spec)))
      }
    val files: Seq[(Option[String], Path, Long, Option[Long])] = dirs.flatMap {
      case (frag, dir) =>
        val fs = dir.getFileSystem(conf)
        if (!fs.exists(dir)) Nil
        else {
          // manifested tables (graft.skipping.by) answer record_count
          // from the shard's recorded tallies — a pure metadata read at
          // 100k files; unmanifested files fall back to one footer read
          val recorded = SkipStats.recordedRowCounts(conf, dir)
          fs.listStatus(dir).toSeq
            .filter(s => s.isFile && !hidden(s.getPath.getName))
            .map(s => (frag, s.getPath, s.getLen,
              recorded.get(s.getPath.getName)
                .orElse(recordCount(conf, s.getPath, meta.provider))))
        }
    }
    kind match {
      case "files" =>
        files.sortBy(_._2.getName).map { case (frag, p, len, cnt) =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(p.getName),
            frag.map(UTF8String.fromString).orNull,
            len,
            cnt.map(Long.box).orNull)).asInstanceOf[InternalRow]
        }.toArray
      case "partitions" =>
        files.groupBy(_._1).toSeq.sortBy(_._1.getOrElse("")).map {
          case (frag, fs0) =>
            val rowCount: Any =
              if (fs0.exists(_._4.isEmpty)) null
              else Long.box(fs0.flatMap(_._4).sum)
            new GenericInternalRow(Array[Any](
              frag.map(UTF8String.fromString).orNull,
              fs0.size.toLong,
              fs0.map(_._3).sum,
              rowCount)).asInstanceOf[InternalRow]
        }.toArray
      case other =>
        throw new IllegalArgumentException(s"unknown metadata table $other")
    }
  }
}

object GraftMetadataTable {

  val Kinds: Set[String] =
    Set("files", "partitions", "history", "snapshots", "deletes")

  val FilesSchema: StructType = StructType(Seq(
    StructField("file_name", StringType, nullable = false),
    StructField("partition", StringType, nullable = true),
    StructField("size_bytes", LongType, nullable = false),
    StructField("record_count", LongType, nullable = true)))

  val PartitionsSchema: StructType = StructType(Seq(
    StructField("partition", StringType, nullable = true),
    StructField("file_count", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("row_count", LongType, nullable = true)))

  val SnapshotsSchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("versions_back", LongType, nullable = false),
    StructField("committed_at_ms", LongType, nullable = false),
    StructField("kind", StringType, nullable = false)))

  /** `t$deletes` (q119): one row per LIVE deletion-vector batch — the
    * inspection surface for "how much unfolded delete debt does this
    * merge-on-read table carry" (compaction folds batches away). */
  val DeletesSchema: StructType = StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("key_column", StringType, nullable = false),
    StructField("keys", LongType, nullable = false),
    StructField("created_at_ms", LongType, nullable = false),
    StructField("applies_to_files", LongType, nullable = false)))

  val HistorySchema: StructType = StructType(Seq(
    StructField("versions_back", LongType, nullable = false),
    StructField("provider", StringType, nullable = false),
    StructField("location", StringType, nullable = false),
    StructField("retired_at_ms", LongType, nullable = false),
    StructField("live", BooleanType, nullable = false)))

  /** Exact per-file row count from the self-describing formats' own
    * metadata; None (NULL) where the format would require a data scan. */
  private def recordCount(
      conf: org.apache.hadoop.conf.Configuration,
      file: Path,
      provider: String): Option[Long] = try {
    provider match {
      case "parquet" =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
        try Some(reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
        finally reader.close()
      case "orc" =>
        val reader = org.apache.orc.OrcFile.createReader(file,
          org.apache.orc.OrcFile.readerOptions(conf)
            .filesystem(file.getFileSystem(conf)))
        try Some(reader.getNumberOfRows)
        finally reader.close()
      case _ => None
    }
  } catch { case NonFatal(_) => None }
}
