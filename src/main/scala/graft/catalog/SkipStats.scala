package graft.catalog

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.PartitionDirectory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.GraftIO.jsonString

/** FILE-LEVEL DATA SKIPPING — the planner-side complement to q105's
  * row-group skipping: per-file min/max ranges for the columns named in
  * `graft.skipping.by` are recorded AT COMMIT TIME (read once from each
  * new parquet/ORC file's footer, under the write permit) into a manifest
  * beside the data (`_graft_skipstats.json`), and the catalog file
  * index evaluates pushed data predicates against those ranges BEFORE
  * planning — a file whose recorded range provably excludes the
  * predicate is never opened, never split, never scheduled. Row-group
  * skipping still opens every file to read its footer; at 100 TB with
  * ~100k files the difference is the whole planning tier: a
  * shipdate-range query over a range-distributed fact table schedules
  * the handful of files that overlap the window and touches nothing
  * else (the Delta/Iceberg data-skipping posture, which the reference
  * has no analogue of).
  *
  * Correctness posture: skipping is an OPTIMIZATION, never a row
  * filter. A file with no manifest entry (foreign file, unreadable
  * footer, unsupported type) is
  * always kept, and every pushed filter is re-applied by the reader, so
  * a stale or missing manifest costs I/O, never rows. The one hazard —
  * a STALE RANGE for a file whose content changed — cannot arise: data
  * files are immutable under the engine's two-phase commit (rewrites
  * replace files under new names), and the manifest is rebuilt against
  * the live file set on every batch commit, inside the same write
  * permit as the descriptor update.
  *
  * SHARDED by directory (the Iceberg manifest-list shape): each
  * partition directory carries its own `_graft_skipstats.json` over its
  * own files (the table root is the one shard of an unpartitioned
  * table), so a commit touching k partitions rebuilds k small shards —
  * never a table-wide pass — and a query's planning reads only the
  * surviving (partition-pruned) directories' shards. Commit cost and
  * planning cost both scale with the data actually touched.
  */
object SkipStats extends Logging {

  /** USER-settable declaration: comma-separated columns whose per-file
    * ranges the engine maintains. Advisory (stats, never correctness) —
    * unknown or unsupported-type names are simply ignored at both ends. */
  val Prop = "graft.skipping.by"

  /** BLOOM SKIPPING declaration: comma-separated columns whose per-file
    * parquet split-block bloom filter the engine maintains — the point-
    * lookup complement to min/max ranges (a hash-distributed layout
    * makes every file span the whole key range; the bloom still proves
    * a key's ABSENCE). Parquet-only: the write path enables the
    * writer's own bloom (`parquet.bloom.filter.enabled#col`), commit
    * merges the row-group blooms from the footer into one per-file
    * filter in the shard, and equality/IN predicates (static AND the
    * runtime IN-sets of dynamic file pruning) test against it. A false
    * positive costs a file read; absence proofs are exact. */
  val BloomProp = "graft.bloom.by"

  /** Expected distinct values PER ROW GROUP for the writer's bloom
    * sizing (`parquet.bloom.filter.expected.ndv#col`) — fixes the SBBF
    * byte size so row-group blooms stay mergeable into one per-file
    * filter. Size to the real per-row-group key cardinality: too small
    * saturates (false positives, never false negatives). */
  val BloomNdvProp = "graft.bloom.ndv"
  val DefaultBloomNdv = 25000L

  /** Serialized per-file blooms above this are left out of the shard
    * (a manifest is planner metadata, not an index file). */
  private val MaxBloomBytes = 128 * 1024

  val ManifestName = "_graft_skipstats.json"

  /** Blooms live in their OWN per-directory shard: at ~30 KB per file
    * per column they dwarf the range/null entries, and only equality/IN
    * predicates can use them — so the planner reads this file ONLY when
    * such a predicate targets a bloom column, and every range-or-null
    * query pays for the small shard alone. */
  val BloomManifestName = "_graft_skipblooms.json"

  def skippingColumns(props: Map[String, String]): Seq[String] =
    props.get(Prop).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  def bloomColumns(props: Map[String, String]): Seq[String] =
    props.get(BloomProp).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  def bloomNdv(props: Map[String, String]): Long =
    props.get(BloomNdvProp).flatMap(s => scala.util.Try(s.toLong).toOption)
      .filter(_ > 0).getOrElse(DefaultBloomNdv)

  /** Types whose parquet-written physical value the bloom hashes
    * deterministically from the catalyst value: INT32-backed integrals
    * and date, INT64 longs, UTF8 binary strings.
    * Timestamps are excluded — `outputTimestampType` can select INT96,
    * whose binary form the query side cannot reproduce. Float/double
    * are excluded too: Spark treats -0.0 = 0.0 (and NaN = NaN) as
    * EQUAL while the writer hashed the raw IEEE bits, so a bloom miss
    * on one bit pattern would wrongly exclude a file holding the other
    * — the same raw-bits-vs-SQL-semantics gap that bars them from
    * range skipping below. */
  private def bloomSupported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         DateType => true
    case _ => false
  }

  private[graft] def resolvedBloomCols(
      props: Map[String, String], schema: StructType): Seq[StructField] =
    bloomColumns(props).flatMap(c =>
      schema.fields.find(f => SQLConf.get.resolver(f.name, c)))
      .filter(f => bloomSupported(f.dataType))

  /** Types with a total order the parquet footer can bound: fixed
    * integrals, strings, date (INT32 days), timestamp (INT64 with a
    * MICROS/MILLIS logical annotation — INT96 or other units carry no
    * usable stats and simply yield no entry). Float/double are
    * EXCLUDED: footer min/max omit NaN while Spark orders NaN above
    * every value, so a file of [1.0, NaN] manifests max=1.0 and a
    * pushed `x > 5.0` (which NaN satisfies in Spark semantics) would
    * silently drop the NaN rows — a row filter, not an optimization.
    * (Iceberg keeps floats safe only by tracking nan_value_counts per
    * file; bounds alone cannot.) */
  private def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         StringType | DateType | TimestampType => true
    case _ => false
  }

  private[graft] def resolvedCols(props: Map[String, String], schema: StructType): Seq[StructField] =
    skippingColumns(props).flatMap(c =>
      schema.fields.find(f => SQLConf.get.resolver(f.name, c)))
      .filter(f => supported(f.dataType))

  // ---- value codec: catalyst value <-> manifest string --------------------

  private def encode(v: Any): String = v match {
    case u: UTF8String => u.toString
    case other => String.valueOf(other)
  }

  private[catalog] def decode(s: String, dt: DataType): Option[Any] = try {
    dt match {
      case StringType => Some(UTF8String.fromString(s))
      case ByteType => Some(s.toByte)
      case ShortType => Some(s.toShort)
      case IntegerType | DateType => Some(s.toInt)
      case LongType | TimestampType => Some(s.toLong)
      case _ => None
    }
  } catch { case NonFatal(_) => None }

  // ---- commit-side maintenance -------------------------------------------

  /** Rebuild ONE directory's shard against its live files: entries for
    * files already manifested are carried (files are immutable), NEW
    * files read their footer once, vanished files drop. `dir` is a
    * partition directory, or the table root for unpartitioned tables —
    * shard keys are bare FILE NAMES, so a wholesale dir move (rename,
    * custom location) keeps its shard valid. Runs under the write
    * permit right after the descriptor update; any failure logs and
    * leaves the previous shard (advisory stats — the commit itself must
    * never fail on them). Parquet and ORC — the two self-describing
    * columnar formats; row formats (csv/json/avro) carry no file
    * statistics worth reading driver-side. */
  def maintainDir(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      props: Map[String, String],
      provider: String): Unit = try {
    val cols = resolvedCols(props, schema)
    // blooms ride the parquet footer only (the writer emitted them there)
    val bloomCols =
      if (provider == "parquet") resolvedBloomCols(props, schema) else Nil
    if ((cols.isEmpty && bloomCols.isEmpty) ||
      !Set("parquet", "orc").contains(provider)) return
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    val files = fs.listStatus(root).toSeq
      .filter(s => s.isFile && !hidden(s.getPath.getName))
    val old = readRaw(fs, root)
    // carried entries must COVER the declared bloom columns
    // (a checked-but-absent bloom is stored as an empty marker, so
    // a pre-declaration file is re-read exactly once) — otherwise
    // re-read the footer for the newly declared column's bloom
    val (carried, toRead) = files.partition { st =>
      old.get(st.getPath.getName).exists(kept =>
        bloomCols.forall(c => kept.blooms.contains(c.name)) &&
          cols.forall(c => kept.nulls.contains(c.name)))
    }
    // The per-file footer reads run CONCURRENTLY on a DEDICATED bounded
    // I/O pool with a FINITE deadline: a 10k-file backfill commit
    // otherwise pays 10k serial driver-side opens, but this runs inside
    // the commit path while the table's write permit is held — blocking
    // forever on one hung filesystem open (or starving the shared global
    // pool, which other driver work uses) would wedge every subsequent
    // commit to the table. A timeout degrades to the advisory-failure
    // path below (log + keep the previous shard).
    // Order-independent, read-only against immutable published files.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ioEc: scala.concurrent.ExecutionContext = GraftIO.ec
    val read: Seq[(String, RawEntry)] = Await.result(
      Future.traverse(toRead) { st => Future {
        val e =
          if (provider == "orc") {
            val (ranges, nulls) = orcStats(conf, st, cols)
            RawEntry(ranges, Map.empty, nulls)
          } else {
            val (ranges, nulls) = footerStats(conf, st, cols)
            RawEntry(ranges,
              footerBlooms(conf, st, bloomCols, bloomNdv(props)), nulls)
          }
        st.getPath.getName -> e
      } }, GraftIO.footerReadDeadline(toRead.size))
    val entries: Map[String, RawEntry] =
      (carried.map(st => st.getPath.getName -> old(st.getPath.getName)) ++ read)
        .filter { case (_, e) =>
          e.ranges.nonEmpty || e.blooms.nonEmpty || e.nulls.nonEmpty }
        .toMap
    writeAtomic(fs, root, entries)
  } catch { case NonFatal(e) =>
    logWarning(s"skip-stats maintenance failed for $dir " +
      s"(skipping disabled there until the next successful commit): $e")
  }

  /** Shard maintenance over a commit's touched directories. */
  def maintainDirs(
      spark: SparkSession,
      dirs: Seq[String],
      schema: StructType,
      props: Map[String, String],
      provider: String): Unit =
    if (resolvedCols(props, schema).nonEmpty ||
      resolvedBloomCols(props, schema).nonEmpty)
      dirs.distinct.foreach(d => maintainDir(spark, d, schema, props, provider))

  /** One footer read → per-column (min, max) across all row groups,
    * plus per-column null tallies ("nullCount/rowCount" — "" when any
    * chunk's null count is unset). Columns whose chunks lack comparable
    * stats (INT96, empty stats, null-only file) yield no range entry
    * for that column but may still tally nulls. */
  private def footerStats(
      conf: Configuration,
      st: FileStatus,
      cols: Seq[StructField]): (Map[String, (String, String)], Map[String, String]) = try {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try {
      val blocks = scala.jdk.CollectionConverters.ListHasAsScala(
        reader.getFooter.getBlocks).asScala.toSeq
      val totalRows = blocks.map(_.getRowCount).sum
      val perCol = cols.map { f =>
        val chunks = blocks.flatMap(b =>
          scala.jdk.CollectionConverters.ListHasAsScala(b.getColumns).asScala
            .find(c => c.getPath.size() == 1 &&
              c.getPath.iterator().next().equalsIgnoreCase(f.name)))
        val stats = chunks.map(_.getStatistics)
        val nullTally: String =
          if (chunks.isEmpty || stats.exists(s => s == null || !s.isNumNullsSet)) ""
          else s"${stats.map(_.getNumNulls).sum}/$totalRows"
        // The manifest stores catalyst MICROS for timestamps, but the
        // footer's INT64 is in the file's own unit: only a
        // TIMESTAMP(isAdjustedToUTC, MICROS|MILLIS) annotation gives a
        // provable conversion (MILLIS ×1000). Any other unit (NANOS),
        // a missing annotation, an NTZ file, or INT96 yields no entry —
        // comparing micros against millis would provably-exclude files
        // that contain matching rows (silent row loss).
        val tsScale: Option[Long] = f.dataType match {
          case TimestampType =>
            import org.apache.parquet.schema.LogicalTypeAnnotation
            chunks.headOption.map(_.getPrimitiveType.getLogicalTypeAnnotation)
              .collect {
                case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                    if ts.isAdjustedToUTC => ts.getUnit
              }.collect {
                case LogicalTypeAnnotation.TimeUnit.MICROS => 1L
                case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
              }
          case _ => Some(1L)
        }
        val range: Option[(String, String)] =
          if (chunks.isEmpty || tsScale.isEmpty || stats.exists(s =>
              s == null || s.isEmpty || !s.hasNonNullValue)) None
          else {
            val mins = stats.flatMap(s =>
              parquetValue(s.genericGetMin.asInstanceOf[AnyRef], f.dataType, tsScale.get))
            val maxs = stats.flatMap(s =>
              parquetValue(s.genericGetMax.asInstanceOf[AnyRef], f.dataType, tsScale.get))
            if (mins.size != stats.size || maxs.size != stats.size) None
            else {
              val ord = TypeUtils.getInterpretedOrdering(f.dataType)
              Some((encode(mins.min(ord)), encode(maxs.max(ord))))
            }
          }
        (f.name, range, nullTally)
      }
      (perCol.collect { case (n, Some(r), _) => n -> r }.toMap,
        perCol.map { case (n, _, t) => n -> t }.toMap)
    } finally reader.close()
  } catch { case NonFatal(_) => (Map.empty, Map.empty) }

  /** One manifested file: per-column encoded (min, max) ranges,
    * per-column base64 split-block blooms, and per-column null tallies
    * ("nullCount/rowCount"). A bloom or null value of "" is the
    * CHECKED-BUT-UNKNOWN marker (pre-declaration file, unmergeable or
    * oversized blooms, unset footer null counts) — it stops maintenance
    * from re-reading the footer every commit, and the scan side ignores
    * it. */
  private[catalog] case class RawEntry(
      ranges: Map[String, (String, String)],
      blooms: Map[String, String],
      nulls: Map[String, String] = Map.empty)

  /** One footer pass → per-column serialized per-file bloom: the
    * row-group SBBFs merged bitwise (parquet guarantees mergeability
    * for equal-size same-algorithm filters; `expected.ndv` fixes the
    * size across row groups). Parquet SKIPS writing a bloom for a
    * chunk that stayed fully dictionary-encoded (the dictionary is
    * already exact membership) — for those the DICTIONARY PAGE's
    * values are hashed into a fresh same-size SBBF, exact by
    * construction and mergeable with the real ones; a chunk with
    * non-dictionary pages and no bloom proves nothing. Any
    * non-mergeable, missing or oversized filter yields the "" marker —
    * never a wrong filter. */
  private def footerBlooms(
      conf: Configuration,
      st: FileStatus,
      cols: Seq[StructField],
      ndv: Long): Map[String, String] = if (cols.isEmpty) Map.empty else try {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.column.values.bloomfilter.{BlockSplitBloomFilter, BloomFilter}
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try {
      val blocks = scala.jdk.CollectionConverters.ListHasAsScala(
        reader.getFooter.getBlocks).asScala.toSeq
      val schema = reader.getFooter.getFileMetaData.getSchema

      // exact bloom from the dictionary page — ONLY when every page of
      // the chunk is dictionary-encoded (a fallback-to-plain chunk's
      // dictionary misses the plain pages' values: wrong exclusions)
      def dictionaryBloom(
          b: org.apache.parquet.hadoop.metadata.BlockMetaData,
          c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Option[BloomFilter] = {
        val stats = c.getEncodingStats
        if (stats == null || stats.hasNonDictionaryEncodedPages) return None
        val desc = scala.jdk.CollectionConverters.ListHasAsScala(schema.getColumns)
          .asScala.find(d => d.getPath.length == 1 &&
            d.getPath()(0).equalsIgnoreCase(c.getPath.iterator().next()))
          .getOrElse(return None)
        val store: org.apache.parquet.column.page.DictionaryPageReadStore =
          reader.getDictionaryReader(b) // upcast: the impl class is package-private
        val page = Option(store.readDictionaryPage(desc)).getOrElse(return None)
        val dict = page.getEncoding.initDictionary(desc, page)
        val bf = new BlockSplitBloomFilter(
          BlockSplitBloomFilter.optimalNumOfBits(ndv, 0.01) / 8)
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
        val insert: Int => Unit = desc.getPrimitiveType.getPrimitiveTypeName match {
          case INT32 => i => bf.insertHash(bf.hash(dict.decodeToInt(i)))
          case INT64 => i => bf.insertHash(bf.hash(dict.decodeToLong(i)))
          case BINARY => i => bf.insertHash(bf.hash(dict.decodeToBinary(i)))
          case _ => return None
        }
        (0 to dict.getMaxId).foreach(insert)
        Some(bf)
      }

      cols.map { f =>
        val merged = try {
          val perBlock = blocks.map { b =>
            val chunk = scala.jdk.CollectionConverters
              .ListHasAsScala(b.getColumns).asScala
              .find(c => c.getPath.size() == 1 &&
                c.getPath.iterator().next().equalsIgnoreCase(f.name))
            chunk.flatMap(c =>
              Option(reader.getBloomFilterDataReader(b).readBloomFilter(c))
                .orElse(dictionaryBloom(b, c)))
          }
          if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
          else perBlock.flatten.reduceLeftOption[BloomFilter] {
            (acc, next) =>
              if (!acc.canMergeFrom(next)) throw new IllegalStateException(
                "row-group blooms not mergeable")
              acc.merge(next); acc
          }.flatMap { bf =>
            val bytes = new java.io.ByteArrayOutputStream()
            bf.writeTo(bytes)
            if (bytes.size() > MaxBloomBytes) None
            else Some(java.util.Base64.getEncoder.encodeToString(bytes.toByteArray))
          }
        } catch { case NonFatal(_) => None }
        f.name -> merged.getOrElse("")
      }.toMap
    } finally reader.close()
  } catch { case NonFatal(_) => Map.empty }

  /** Catalyst value → the XXH64 the parquet writer hashed for this
    * column's physical value, or None when the binding isn't provable
    * (then the bloom proves nothing for this predicate). */
  private def bloomHash(
      bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
      v: Any,
      dt: DataType): Option[Long] = try {
    (v, dt) match {
      case (b: Byte, ByteType) => Some(bf.hash(b.toInt))
      case (s: Short, ShortType) => Some(bf.hash(s.toInt))
      case (i: Int, IntegerType | DateType) => Some(bf.hash(i))
      case (l: Long, LongType) => Some(bf.hash(l))
      case (u: UTF8String, StringType) =>
        Some(bf.hash(org.apache.parquet.io.api.Binary.fromReusedByteArray(u.getBytes)))
      case _ => None
    }
  } catch { case NonFatal(_) => None }

  /** ORC twin of [[footerStats]]: the file tail's per-column
    * statistics (`Reader.getStatistics`, indexed by TypeDescription
    * column id) → (min, max) for the supported fixed types plus null
    * tallies (`getNumberOfValues` counts non-nulls; the file row count
    * gives the rest). Date/timestamp are left unmanifested for orc
    * (their stats classes vary across writers) — no entry, never a
    * wrong bound. */
  private def orcStats(
      conf: Configuration,
      st: FileStatus,
      cols: Seq[StructField]): (Map[String, (String, String)], Map[String, String]) = try {
    import org.apache.orc.OrcFile
    val reader = OrcFile.createReader(st.getPath,
      OrcFile.readerOptions(conf).filesystem(st.getPath.getFileSystem(conf)))
    try {
      val root = reader.getSchema
      val names = root.getFieldNames
      val stats = reader.getStatistics
      val totalRows = reader.getNumberOfRows
      val nulls = cols.map { f =>
        val j = (0 until names.size).find(i => names.get(i).equalsIgnoreCase(f.name))
        f.name -> j.map { i =>
          val nonNull = stats(root.getChildren.get(i).getId).getNumberOfValues
          s"${totalRows - nonNull}/$totalRows"
        }.getOrElse("")
      }.toMap
      val ranges = cols.flatMap { f =>
        val j = (0 until names.size).find(i => names.get(i).equalsIgnoreCase(f.name))
        j.flatMap { i =>
          val cs = stats(root.getChildren.get(i).getId)
          if (cs.getNumberOfValues <= 0) None
          else (cs, f.dataType) match {
            case (s: org.apache.orc.IntegerColumnStatistics, ByteType) =>
              Some(f.name -> (encode(s.getMinimum.toByte), encode(s.getMaximum.toByte)))
            case (s: org.apache.orc.IntegerColumnStatistics, ShortType) =>
              Some(f.name -> (encode(s.getMinimum.toShort), encode(s.getMaximum.toShort)))
            case (s: org.apache.orc.IntegerColumnStatistics, IntegerType) =>
              Some(f.name -> (encode(s.getMinimum.toInt), encode(s.getMaximum.toInt)))
            case (s: org.apache.orc.IntegerColumnStatistics, LongType) =>
              Some(f.name -> (encode(s.getMinimum), encode(s.getMaximum)))
            case (s: org.apache.orc.StringColumnStatistics, StringType)
                if s.getMinimum != null && s.getMaximum != null =>
              Some(f.name -> (s.getMinimum, s.getMaximum))
            case _ => None
          }
        }
      }.toMap
      (ranges, nulls)
    } finally reader.close()
  } catch { case NonFatal(_) => (Map.empty, Map.empty) }

  /** Parquet footer value → catalyst value for the declared type, or
    * None on any physical/logical mismatch (then the column gets no
    * bound — never a wrong one). `tsScale` converts the file's
    * annotated timestamp unit to catalyst micros (1 for MICROS, 1000
    * for MILLIS — the caller admits no other unit). */
  private def parquetValue(v: AnyRef, dt: DataType, tsScale: Long): Option[Any] = (v, dt) match {
    case (b: org.apache.parquet.io.api.Binary, StringType) =>
      Some(UTF8String.fromBytes(b.getBytes))
    case (i: java.lang.Integer, ByteType) => Some(i.toByte)
    case (i: java.lang.Integer, ShortType) => Some(i.toShort)
    case (i: java.lang.Integer, IntegerType) => Some(i.toInt)
    case (i: java.lang.Integer, DateType) => Some(i.toInt)
    case (l: java.lang.Long, LongType) => Some(l.toLong)
    case (l: java.lang.Long, TimestampType) => Some(l.toLong * tsScale)
    case _ => None
  }

  // ---- manifest IO (hand-rolled JSON through GraftIO) -------------------

  private def writeAtomic(
      fs: FileSystem, root: Path,
      entries: Map[String, RawEntry]): Unit = {
    val body = entries.toSeq.sortBy(_._1).map { case (file, e) =>
      val ranges = e.ranges.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        jsonString(c) + ":[" + jsonString(mn) + "," + jsonString(mx) + "]"
      }.mkString("{", ",", "}")
      val nulls = e.nulls.toSeq.sortBy(_._1).map { case (c, n) =>
        jsonString(c) + ":" + jsonString(n)
      }.mkString("{", ",", "}")
      jsonString(file) + ":{\"ranges\":" + ranges + ",\"nulls\":" + nulls + "}"
    }.mkString("{\"version\":2,\"files\":{", ",", "}}")
    writeFileAtomic(fs, root, ManifestName, body)
    // the bloom shard rides separately (read only by equality probes);
    // dropped entirely when no file carries one
    val withBlooms = entries.filter(_._2.blooms.nonEmpty)
    if (withBlooms.isEmpty) fs.delete(new Path(root, BloomManifestName), false)
    else {
      val bBody = withBlooms.toSeq.sortBy(_._1).map { case (file, e) =>
        jsonString(file) + ":" + e.blooms.toSeq.sortBy(_._1).map { case (c, b) =>
          jsonString(c) + ":" + jsonString(b)
        }.mkString("{", ",", "}")
      }.mkString("{\"version\":1,\"files\":{", ",", "}}")
      writeFileAtomic(fs, root, BloomManifestName, bBody)
    }
  }

  private def writeFileAtomic(
      fs: FileSystem, root: Path, name: String, body: String): Unit = {
    // draft naming (leading dot, .tmp suffix): a crash between create and
    // rename leaves a file the table VACUUM's draft sweep already
    // classifies as residue
    val tmp = new Path(root, s".graft_skipstats-${java.util.UUID.randomUUID()}.tmp")
    GraftIO.writeSmallFile(fs, tmp,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8), overwrite = true)
    val target = new Path(root, name)
    fs.delete(target, false)
    if (!fs.rename(tmp, target)) { fs.delete(tmp, false); sys.error(s"rename to $target failed") }
  }

  /** Both shards merged — the maintenance-side view (the scan side uses
    * [[readMain]] + [[readBloomShard]] so range queries never read the
    * heavy bloom file). */
  private def readRaw(fs: FileSystem, root: Path): Map[String, RawEntry] = {
    val main = readMain(fs, root)
    val blooms = readBloomShard(fs, root)
    if (blooms.isEmpty) main
    else (main.keySet ++ blooms.keySet).map { f =>
      val m = main.getOrElse(f, RawEntry(Map.empty, Map.empty))
      f -> m.copy(blooms = m.blooms ++ blooms.getOrElse(f, Map.empty))
    }.toMap
  }

  /** The separate bloom shard: file → column → base64 SBBF. */
  private def readBloomShard(
      fs: FileSystem, root: Path): Map[String, Map[String, String]] = try {
    import org.json4s._
    GraftIO.readSmallFile(fs, new Path(root, BloomManifestName)) match {
      case None => Map.empty
      case Some(text) => org.json4s.jackson.JsonMethods.parse(text) match {
        case JObject(top) =>
          top.collectFirst { case ("files", JObject(files)) => files }
            .getOrElse(Nil).flatMap {
              case (file, JObject(cols)) =>
                Some(file -> cols.collect { case (c, JString(b)) => c -> b }.toMap)
              case _ => None
            }.toMap
        case _ => Map.empty
      }
    }
  } catch { case NonFatal(_) => Map.empty }

  private def readMain(
      fs: FileSystem, root: Path): Map[String, RawEntry] = try {
    val text = GraftIO.readSmallFile(fs, new Path(root, ManifestName)).getOrElse(return Map.empty)
    import org.json4s._
    def parseRanges(cols: List[(String, JValue)]): Map[String, (String, String)] =
      cols.flatMap {
        case (c, JArray(List(JString(mn), JString(mx)))) => Some(c -> (mn, mx))
        case _ => None
      }.toMap
    org.json4s.jackson.JsonMethods.parse(text) match {
      // v2: {"version":2,"files":{file:{"ranges":{...},"blooms":{...}}}}
      case JObject(top) if top.exists(_._1 == "files") =>
        top.collectFirst { case ("files", JObject(files)) => files }
          .getOrElse(Nil).flatMap {
            case (file, JObject(entry)) =>
              val ranges = entry.collectFirst {
                case ("ranges", JObject(cols)) => parseRanges(cols)
              }.getOrElse(Map.empty[String, (String, String)])
              val blooms = entry.collectFirst {
                case ("blooms", JObject(cols)) => cols.collect {
                  case (c, JString(b)) => c -> b
                }.toMap
              }.getOrElse(Map.empty[String, String])
              val nulls = entry.collectFirst {
                case ("nulls", JObject(cols)) => cols.collect {
                  case (c, JString(n)) => c -> n
                }.toMap
              }.getOrElse(Map.empty[String, String])
              Some(file -> RawEntry(ranges, blooms, nulls))
            case _ => None
          }.toMap
      // legacy v1: {file: {col: [mn, mx]}}
      case JObject(files) => files.flatMap {
        case (file, JObject(cols)) =>
          Some(file -> RawEntry(parseRanges(cols), Map.empty))
        case _ => None
      }.toMap
      case _ => Map.empty
    }
  } catch { case NonFatal(_) => Map.empty }

  /** ANALYZE-time synthetic ranges for ROW formats (avro/csv/json, which
    * carry no self-describing footer statistics): ONE distributed pass
    * per directory groups by `input_file_name()`, computing each file's
    * min/max and null tallies for the declared skipping columns, and
    * writes the same per-directory shards the footer path maintains —
    * so `graft.skipping.by` (ranges + null proofs) works on a
    * Kafka-adjacent avro estate after `CALL sys.analyze`. Commit-time
    * maintenance cannot serve these formats (no footer to read), so the
    * shards refresh on the ANALYZE cadence: files appended since keep
    * no entry and are always read — staleness costs I/O, never rows
    * (files are immutable, so an EXISTING entry can never be wrong).
    * Parquet/ORC return immediately ([[maintainDirs]] owns them). */
  def analyzeDirs(
      spark: SparkSession,
      dirs: Seq[String],
      schema: StructType,
      partitionColumns: Seq[String],
      props: Map[String, String],
      provider: String): Unit = try {
    if (Set("parquet", "orc").contains(provider)) return
    val partSet = partitionColumns.map(_.toLowerCase).toSet
    val cols = resolvedCols(props, schema)
      .filterNot(f => partSet.contains(f.name.toLowerCase))
    if (cols.isEmpty) return
    val conf = spark.sessionState.newHadoopConf()
    import org.apache.spark.sql.functions._
    val dataSchema = StructType(
      schema.filterNot(f => partSet.contains(f.name.toLowerCase)))
    // external (collected) value → the manifest's catalyst-encoded string
    def enc(v: Any): Option[String] = v match {
      case null => None
      case ts: java.sql.Timestamp => Some(String.valueOf(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(ts)))
      case ts: java.time.Instant => Some(String.valueOf(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(ts)))
      case d: java.sql.Date => Some(String.valueOf(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d)))
      case d: java.time.LocalDate => Some(String.valueOf(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d)))
      case other => Some(String.valueOf(other))
    }
    dirs.distinct.foreach { dir =>
      val root = new Path(dir)
      val fs = root.getFileSystem(conf)
      if (fs.exists(root) &&
          fs.listStatus(root).exists(s => s.isFile &&
            !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))) {
        // avro resolves by FileFormat class name — the short name needs
        // a ServiceLoader registration this classpath layout lacks (the
        // scan path instantiates the class directly for the same reason)
        val fmt = if (provider == "avro")
          org.apache.spark.sql.graft.GraftSqlBridge.avroFileFormat()
            .getClass.getName
        else provider
        val df = spark.read.format(fmt).schema(dataSchema)
          .options(GraftCatalog.optionProps(props)).load(dir)
        val exprs = scala.collection.mutable.ArrayBuffer[
          org.apache.spark.sql.Column](count(lit(1)).as("n"))
        cols.foreach { f =>
          exprs += min(col(f.name)).as(s"min:${f.name}")
          exprs += max(col(f.name)).as(s"max:${f.name}")
          exprs += count(col(f.name)).as(s"nn:${f.name}")
        }
        // one row per file — bounded by the dir's file count
        val perFile = df.groupBy(input_file_name().as("__file"))
          .agg(exprs.head, exprs.tail.toSeq: _*).collect()
        val entries: Map[String, RawEntry] = perFile.flatMap { r =>
          val fileName = new Path(r.getString(r.fieldIndex("__file"))).getName
          if (fileName.isEmpty) None else {
            val n = r.getLong(r.fieldIndex("n"))
            val ranges = cols.flatMap { f =>
              val (mi, ma) = (r.fieldIndex(s"min:${f.name}"), r.fieldIndex(s"max:${f.name}"))
              if (r.isNullAt(mi) || r.isNullAt(ma)) None
              else for (a <- enc(r.get(mi)); b <- enc(r.get(ma)))
                yield f.name -> (a, b)
            }.toMap
            val nulls = cols.map { f =>
              f.name -> s"${n - r.getLong(r.fieldIndex(s"nn:${f.name}"))}/$n"
            }.toMap
            Some(fileName -> RawEntry(ranges, Map.empty, nulls))
          }
        }.toMap
        if (entries.nonEmpty) writeAtomic(fs, root, entries)
      }
    }
  } catch { case NonFatal(e) =>
    logWarning(s"analyze-time skip-stats pass failed for $provider " +
      s"(skipping stays disabled there): $e")
  }

  /** Per-file EXACT row counts already recorded in a directory's shard
    * (the denominators of the null tallies, written once at commit from
    * the same footer the count would re-read) — so metadata reads
    * (`t$files.record_count`) on a manifested table are pure metadata:
    * zero footer I/O at any file count. Missing/unknown entries are
    * simply absent; the caller falls back to the footer. */
  def recordedRowCounts(
      conf: Configuration, dir: Path): Map[String, Long] = try {
    readMain(dir.getFileSystem(conf), dir).flatMap { case (f, e) =>
      e.nulls.values.iterator.flatMap(_.split("/") match {
        case Array(_, r) => scala.util.Try(r.toLong).toOption
        case _ => None
      }).nextOption().map(f -> _)
    }
  } catch { case NonFatal(_) => Map.empty }

  // ---- scan-side evaluation ----------------------------------------------

  /** One file's decoded skipping state: catalyst (min, max) per range
    * column, deserialized per-file bloom per bloom column, and
    * (nullCount, rowCount) tallies per range column. */
  private case class FileSkip(
      ranges: Map[String, (Any, Any)],
      blooms: Map[String,
        org.apache.parquet.column.values.bloomfilter.BloomFilter],
      nulls: Map[String, (Long, Long)])

  /** One directory's decoded shard: file NAME → [[FileSkip]]. Empty on
    * any problem (no skipping, full scan). */
  private def loadDir(
      conf: Configuration,
      dir: Path,
      byName: Map[String, DataType],
      bloomNames: Set[String],
      needBlooms: Boolean): Map[String, FileSkip] = try {
    val fs = dir.getFileSystem(conf)
    val bloomShard =
      if (needBlooms && bloomNames.nonEmpty) readBloomShard(fs, dir)
      else Map.empty[String, Map[String, String]]
    readMain(fs, dir).map { case (file, raw0) =>
      val raw = raw0.copy(blooms = raw0.blooms ++ bloomShard.getOrElse(file, Map.empty))
      val ranges = raw.ranges.flatMap { case (c, (mn, mx)) =>
        byName.get(c).flatMap(dt =>
          for (a <- decode(mn, dt); b <- decode(mx, dt)) yield c -> (a, b))
      }
      val blooms = raw.blooms.flatMap { case (c, b64) =>
        if (b64.isEmpty || !bloomNames.exists(SQLConf.get.resolver(_, c))) None
        else try {
          Some(c -> (new org.apache.parquet.column.values.bloomfilter
            .BlockSplitBloomFilter(java.util.Base64.getDecoder.decode(b64))
            : org.apache.parquet.column.values.bloomfilter.BloomFilter))
        } catch { case NonFatal(_) => None }
      }
      val nulls = raw.nulls.flatMap { case (c, t) =>
        if (t.isEmpty || !byName.keys.exists(SQLConf.get.resolver(_, c))) None
        else t.split("/") match {
          case Array(n, r) =>
            try Some(c -> (n.toLong, r.toLong)) catch { case NonFatal(_) => None }
          case _ => None
        }
      }
      file -> FileSkip(ranges, blooms, nulls)
    }.filter(e =>
      e._2.ranges.nonEmpty || e._2.blooms.nonEmpty || e._2.nulls.nonEmpty)
  } catch { case NonFatal(_) => Map.empty }

  /** Filter each directory's files through its shard: a file is
    * dropped only when some pushed conjunct PROVABLY excludes its
    * recorded range. Files without an entry always survive. Only the
    * SURVIVING (partition-pruned) directories' shards are read — one
    * small file each, memoized across the listing. */
  def applySkipping(
      spark: SparkSession,
      schema: StructType,
      props: Map[String, String],
      dirs: Seq[PartitionDirectory],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    if (dataFilters.isEmpty) return dirs
    val cols = resolvedCols(props, schema)
    val bloomCols = resolvedBloomCols(props, schema)
    if (cols.isEmpty && bloomCols.isEmpty) return dirs
    val byName = cols.map(f => f.name -> f.dataType).toMap
    val bloomNames = bloomCols.map(_.name).toSet
    val needBlooms = bloomNames.nonEmpty &&
      dataFilters.exists(wantsBloom(_, bloomNames))
    lazy val conf = spark.sessionState.newHadoopConf()
    val shards = scala.collection.mutable.Map.empty[Path, Map[String, FileSkip]]
    val colTypes = schema.fields.map(f => f.name -> f.dataType).toMap
    dirs.map { d =>
      d.copy(files = d.files.filter { f =>
        val shard = shards.getOrElseUpdate(f.getPath.getParent,
          loadDir(conf, f.getPath.getParent, byName, bloomNames, needBlooms))
        shard.get(f.getPath.getName) match {
          case Some(skip) =>
            !dataFilters.exists(e => excludes(e, skip, colTypes))
          case None => true
        }
      })
    }
  }

  /** Whether a predicate targets a bloom column with equality/IN — the
    * heavy bloom shard is read ONLY then; a range-or-null query plans
    * against the small main shard alone. */
  private def wantsBloom(e: Expression, bloomNames: Set[String]): Boolean = e match {
    case EqualTo(a: AttributeReference, _: Literal) =>
      bloomNames.exists(SQLConf.get.resolver(_, a.name))
    case EqualTo(_: Literal, a: AttributeReference) =>
      bloomNames.exists(SQLConf.get.resolver(_, a.name))
    case In(a: AttributeReference, _) =>
      bloomNames.exists(SQLConf.get.resolver(_, a.name))
    case And(l, r) => wantsBloom(l, bloomNames) || wantsBloom(r, bloomNames)
    case Or(l, r) => wantsBloom(l, bloomNames) || wantsBloom(r, bloomNames)
    case _ => false
  }

  /** [[applySkipping]] over ONE directory's explicit file list — the
    * entry point for planners that hold their own resolved listings
    * (the positional merge-on-read rewrite, r21 verdict "Next round"
    * #2): a file is dropped only when some conjunct PROVABLY excludes
    * its recorded range/bloom/null tallies; files without an entry (or
    * a dir without a shard) always survive. Same advisory posture as
    * the scan path — pruning can cost nothing but I/O, never rows. */
  def filterFiles(
      spark: SparkSession,
      schema: StructType,
      props: Map[String, String],
      dir: Path,
      files: Seq[FileStatus],
      dataFilters: Seq[Expression]): Seq[FileStatus] = {
    if (dataFilters.isEmpty || files.isEmpty) return files
    val cols = resolvedCols(props, schema)
    val bloomCols = resolvedBloomCols(props, schema)
    if (cols.isEmpty && bloomCols.isEmpty) return files
    val byName = cols.map(f => f.name -> f.dataType).toMap
    val bloomNames = bloomCols.map(_.name).toSet
    val needBlooms = bloomNames.nonEmpty &&
      dataFilters.exists(wantsBloom(_, bloomNames))
    val shard = loadDir(spark.sessionState.newHadoopConf(), dir,
      byName, bloomNames, needBlooms)
    if (shard.isEmpty) files
    else {
      val colTypes = schema.fields.map(f => f.name -> f.dataType).toMap
      files.filter { f =>
        shard.get(f.getPath.getName) match {
          case Some(skip) =>
            !dataFilters.exists(e => excludes(e, skip, colTypes))
          case None => true
        }
      }
    }
  }

  /** True iff the expression can be PROVEN false for every row whose
    * skipping-column values lie within the file's recorded ranges.
    * Conservative: any unrecognized shape returns false (keep). Null
    * semantics are safe for free — `=`/`<`/... with a non-null literal
    * never matches a null cell, so the non-null [min, max] bound is the
    * only evidence needed; null literals prove nothing and are kept. */
  private def excludes(
      e: Expression,
      skip: FileSkip,
      colTypes: Map[String, DataType]): Boolean = {
    val ranges = skip.ranges
    def range(a: AttributeReference): Option[((Any, Any), Ordering[Any])] =
      ranges.find { case (c, _) => SQLConf.get.resolver(c, a.name) }.flatMap {
        case (c, r) => colTypes.find { case (n, _) => SQLConf.get.resolver(n, c) }
          .map { case (_, dt) =>
            (r, TypeUtils.getInterpretedOrdering(dt).asInstanceOf[Ordering[Any]]) }
      }
    def cmp(a: AttributeReference, v: Any)(
        excluded: ((Any, Any), Ordering[Any], Any) => Boolean): Boolean =
      v != null && range(a).exists { case (r, ord) => excluded(r, ord, v) }
    // the bloom ABSENCE proof for one equality value: present filter,
    // provable hash binding, hash not found ⇒ no row in this file can
    // equal v (false positives keep the file; never the reverse)
    def bloomExcluded(a: AttributeReference, v: Any): Boolean =
      v != null && skip.blooms.find { case (c, _) =>
        SQLConf.get.resolver(c, a.name) }.exists { case (c, bf) =>
          colTypes.find { case (n, _) => SQLConf.get.resolver(n, c) }
            .flatMap { case (_, dt) => bloomHash(bf, v, dt) }
            .exists(h => !bf.findHash(h))
        }
    def eqExcluded(a: AttributeReference, v: Any): Boolean =
      cmp(a, v) { case ((mn, mx), ord, x) => ord.lt(x, mn) || ord.gt(x, mx) } ||
        bloomExcluded(a, v)
    // null tallies: exact per-file (nullCount, rowCount) from the footer
    def tally(a: AttributeReference): Option[(Long, Long)] =
      skip.nulls.find { case (c, _) => SQLConf.get.resolver(c, a.name) }.map(_._2)
    e match {
      case EqualTo(a: AttributeReference, Literal(v, _)) => eqExcluded(a, v)
      case EqualTo(Literal(v, _), a: AttributeReference) => eqExcluded(a, v)
      // a file with zero nulls can't satisfy IS NULL; an all-null file
      // can't satisfy IS NOT NULL (the conjunct catalyst pushes with
      // nearly every join/filter on the column)
      case IsNull(a: AttributeReference) => tally(a).exists(_._1 == 0L)
      case IsNotNull(a: AttributeReference) =>
        tally(a).exists { case (n, rows) => rows > 0 && n == rows }
      case GreaterThan(a: AttributeReference, Literal(v, _)) =>
        cmp(a, v) { case ((_, mx), ord, x) => ord.lteq(mx, x) }
      case GreaterThan(Literal(v, _), a: AttributeReference) => // v > a ⇔ a < v
        cmp(a, v) { case ((mn, _), ord, x) => ord.gteq(mn, x) }
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        cmp(a, v) { case ((_, mx), ord, x) => ord.lt(mx, x) }
      case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) =>
        cmp(a, v) { case ((mn, _), ord, x) => ord.gt(mn, x) }
      case LessThan(a: AttributeReference, Literal(v, _)) =>
        cmp(a, v) { case ((mn, _), ord, x) => ord.gteq(mn, x) }
      case LessThan(Literal(v, _), a: AttributeReference) => // v < a ⇔ a > v
        cmp(a, v) { case ((_, mx), ord, x) => ord.lteq(mx, x) }
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        cmp(a, v) { case ((mn, _), ord, x) => ord.gt(mn, x) }
      case LessThanOrEqual(Literal(v, _), a: AttributeReference) =>
        cmp(a, v) { case ((_, mx), ord, x) => ord.lt(mx, x) }
      case In(a: AttributeReference, elems) if elems.forall(_.isInstanceOf[Literal]) =>
        elems.nonEmpty && elems.forall { case Literal(v, _) => eqExcluded(a, v) }
      case And(l, r) => excludes(l, skip, colTypes) || excludes(r, skip, colTypes)
      case Or(l, r) => excludes(l, skip, colTypes) && excludes(r, skip, colTypes)
      case _ => false
    }
  }
}
