package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType, NumericType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The catalog's SQL-invocable MAINTENANCE surface (DSv2
  * `ProcedureCatalog`, Spark 4's stored-procedure API): the operators a
  * table's operator runs on a cadence — vacuum, namespace sweep,
  * compaction, format migration — callable as
  * `CALL <catalog>.sys.vacuum('catalog.ns.table')` with no Scala
  * import, the Iceberg-procedure UX. Beyond the reference (its catalog
  * stops at tables); shares the `sys` namespace with
  * [[CatalogFunctions]] so the whole code-defined surface lists in one
  * place.
  *
  * Each procedure is a thin declarative shell over the operator object
  * (the semantics, permits and gates live THERE — see
  * `operators/Vacuum.scala`, `Compaction.scala`, `Migrate.scala`); the
  * result set is a one-row summary returned through a driver-side
  * [[LocalScan]]. Argument coercion/defaults ride the analyzer's
  * procedure binding; `isDeterministic = false` (they mutate state). */
object CatalogProcedures {
  import CatalogFunctions.{Namespace => Sys}

  private def param(n: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(n, dt).build()
  private def paramDefault(n: String, dt: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(n, dt).defaultValue(default).build()

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** One code-defined procedure: fixed parameters, fixed result schema,
    * a body from the coerced argument row. */
  private final class GraftProcedure(
      procName: String,
      procDescription: String,
      params: Array[ProcedureParameter],
      resultSchema: StructType,
      body: InternalRow => InternalRow)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = procDescription
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val row = body(input)
      java.util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = resultSchema
        override def rows(): Array[InternalRow] = Array(row)
      }).iterator()
    }
  }

  private def spark: SparkSession = SparkSession.active

  private def isLengthy(f: StructField): Boolean =
    f.dataType == StringType || f.dataType == BinaryType
  private def canMinMax(f: StructField): Boolean = f.dataType != BinaryType
  private def numeric(f: StructField): Boolean = f.dataType.isInstanceOf[NumericType]

  /** The `sys.analyze` column-stats aggregate list, shared by the table
    * pass and the per-partition pass: the row count `n`, then per column
    * an NDV sketch, the non-null count, min/max as strings (not for
    * BINARY), average/max length (STRING, BINARY) and, when `histBins`
    * is positive, equi-height boundaries of numeric columns. Every
    * aggregate is mergeable, so either pass is one scan. */
  private def statAggs(fields: Seq[StructField], histBins: Int): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    count(lit(1)).as("n") +: fields.flatMap { f =>
      val c = col(f.name)
      Seq(approx_count_distinct(c).as(s"ndv:${f.name}"), count(c).as(s"nn:${f.name}")) ++
        (if (canMinMax(f)) Seq(min(c).cast("string").as(s"min:${f.name}"),
          max(c).cast("string").as(s"max:${f.name}")) else Nil) ++
        (if (isLengthy(f)) Seq(ceil(avg(length(c))).as(s"avglen:${f.name}"),
          max(length(c)).cast("bigint").as(s"maxlen:${f.name}")) else Nil) ++
        (if (histBins > 0 && numeric(f)) {
          val ps = (0 to histBins).map(i => (i.toDouble / histBins).toString).mkString(",")
          Seq(expr(s"approx_percentile(cast(`${f.name}` as double), array($ps))")
            .as(s"pct:${f.name}"))
        } else Nil)
    }
  }

  /** A numeric column's equi-height boundaries in a [[statAggs]] row;
    * None without histograms or without a non-null value. */
  private def histBounds(r: org.apache.spark.sql.Row, f: StructField, histBins: Int): Option[Seq[Double]] =
    if (histBins == 0 || !numeric(f) || r.isNullAt(r.fieldIndex(s"pct:${f.name}"))) None
    else Some(r.getSeq[Double](r.fieldIndex(s"pct:${f.name}")).toSeq)
      .filter(_.length == histBins + 1)

  /** A [[statAggs]] row → (row count, per-column stats). `binNdv(column,
    * column NDV, bin)` is a histogram bin's NDV. */
  private def readStats(
      r: org.apache.spark.sql.Row,
      fields: Seq[StructField],
      histBins: Int,
      binNdv: (String, Long, Int) => Long): (Long, Map[String, ColumnStatsMeta]) = {
    def get[T](nm: String): Option[T] = {
      val i = r.fieldIndex(nm)
      if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[T])
    }
    val n = r.getLong(r.fieldIndex("n"))
    n -> fields.map { f =>
      val nonNull = get[Long](s"nn:${f.name}").getOrElse(0L)
      val ndv = get[Long](s"ndv:${f.name}").getOrElse(0L)
      f.name -> ColumnStatsMeta(
        ndv = ndv,
        nullCount = n - nonNull,
        min = if (canMinMax(f)) get[Any](s"min:${f.name}").map(_.toString) else None,
        max = if (canMinMax(f)) get[Any](s"max:${f.name}").map(_.toString) else None,
        avgLen = if (isLengthy(f)) get[Long](s"avglen:${f.name}") else None,
        maxLen = if (isLengthy(f)) get[Long](s"maxlen:${f.name}") else None,
        histogram = histBounds(r, f, histBins).map(bs => (nonNull.toDouble / histBins,
          (0 until histBins).map(i => HistogramBinMeta(bs(i), bs(i + 1), binNdv(f.name, ndv, i))))))
    }.toMap
  }

  val All: Map[String, UnboundProcedure] = Map(
    "vacuum" -> new GraftProcedure(
      "vacuum",
      "reclaim crash residue of one table (unregistered partition dirs, " +
        "committer staging, resolved txn markers) behind a retention window",
      Array(param("table", StringType),
        paramDefault("retention_ms", LongType,
          graft.operators.Vacuum.DefaultRetentionMs.toString)),
      StructType(Seq(StructField("reclaimed_files", LongType, nullable = false),
        StructField("reclaimed_bytes", LongType, nullable = false))),
      in => {
        val stats = graft.operators.Vacuum.vacuum(
          spark, in.getUTF8String(0).toString, in.getLong(1))
        InternalRow(stats.reclaimedFiles, stats.reclaimedBytes)
      }),
    "vacuum_namespace" -> new GraftProcedure(
      "vacuum_namespace",
      "reclaim migration residue outside table locations (crashed " +
        "__migrate staging, retired pre-migration generations) behind a " +
        "retention window",
      Array(param("namespace", StringType),
        paramDefault("retention_ms", LongType,
          graft.operators.Vacuum.DefaultRetentionMs.toString)),
      StructType(Seq(StructField("reclaimed_files", LongType, nullable = false),
        StructField("reclaimed_bytes", LongType, nullable = false))),
      in => {
        val stats = graft.operators.Vacuum.vacuumNamespace(
          spark, in.getUTF8String(0).toString, in.getLong(1))
        InternalRow(stats.reclaimedFiles, stats.reclaimedBytes)
      }),
    "rollback" -> new GraftProcedure(
      "rollback",
      "undo the last versions_back commits: an in-place commit (append/" +
        "overwrite/truncate/DELETE/DML/epoch) restores its snapshot's " +
        "exact file set by renames (redo-able); a rewrite flip (compact/" +
        "migrate/zorder) re-points the descriptor at the retired generation. " +
        "See <table>$snapshots / <table>$history for what is restorable",
      Array(param("table", StringType),
        paramDefault("versions_back", LongType, "1")),
      StructType(Seq(
        StructField("restored_provider", StringType, nullable = false),
        StructField("restored_location", StringType, nullable = false))),
      in => {
        val n = if (in.isNullAt(1)) 1 else in.getLong(1).toInt
        val (prov, loc) = graft.operators.Rollback.rollback(
          spark, in.getUTF8String(0).toString, n)
        InternalRow(utf8(prov), utf8(loc))
      }),
    "incremental_view" -> new GraftProcedure(
      "incremental_view",
      "register a temp view over the rows APPENDED between two retained " +
        "snapshots (versions_back; to=0 is the current state) — a pure " +
        "manifest set-difference, the 'process only new data since the " +
        "last run' primitive; refuses on non-append history in the range",
      Array(param("table", StringType),
        param("from_versions_back", LongType),
        paramDefault("to_versions_back", LongType, "0"),
        paramDefault("view", StringType, "''")),
      StructType(Seq(
        StructField("view", StringType, nullable = false),
        StructField("files", LongType, nullable = false))),
      in => {
        val t = in.getUTF8String(0).toString
        val from = in.getLong(1).toInt
        val to = if (in.isNullAt(2)) 0 else in.getLong(2).toInt
        val view = {
          val v = if (in.isNullAt(3)) "" else in.getUTF8String(3).toString.trim
          if (v.nonEmpty) v
          else s"${t.split("\\.").last}_appended_${from}_$to"
        }
        val df = graft.operators.IncrementalRead.appendedBetween(spark, t, from, to)
        df.createOrReplaceTempView(view)
        // the slice's file count from the same manifest diff (the V2
        // relation's inputFiles is empty before pushdown)
        val (plugin, Array(db, name)) =
          GraftCatalog.resolve(spark, t, "appendedBetween")
        val files = Snapshots.addedBetween(spark,
          plugin.metaStore.loadTable(db, name), from, to)
          .dirs.map(_.files.size.toLong).sum
        InternalRow(utf8(view), files)
      }),
    "changes_view" -> new GraftProcedure(
      "changes_view",
      "register a temp view over the CHANGELOG between two retained " +
        "snapshots (versions_back; to=0 is the current state): the " +
        "table's columns plus _change_type (insert|delete) and " +
        "_change_version — a pure manifest walk; removed files read " +
        "from their retirement area, merge-on-read commits contribute " +
        "their deletion-vector keys; refuses across rewrite flips. " +
        "row_granular nets each rewrite commit's carried rows away " +
        "(EXCEPT ALL both ways) so only true churn surfaces (q120b)",
      Array(param("table", StringType),
        param("from_versions_back", LongType),
        paramDefault("to_versions_back", LongType, "0"),
        paramDefault("view", StringType, "''"),
        paramDefault("row_granular", BooleanType, "false")),
      StructType(Seq(
        StructField("view", StringType, nullable = false))),
      in => {
        val t = in.getUTF8String(0).toString
        val from = in.getLong(1).toInt
        val to = if (in.isNullAt(2)) 0 else in.getLong(2).toInt
        val view = {
          val v = if (in.isNullAt(3)) "" else in.getUTF8String(3).toString.trim
          if (v.nonEmpty) v
          else s"${t.split("\\.").last}_changes_${from}_$to"
        }
        val rowGranular = !in.isNullAt(4) && in.getBoolean(4)
        val df = graft.operators.ChangeFeed.changesBetween(
          spark, t, from, to, rowGranular = rowGranular)
        df.createOrReplaceTempView(view)
        InternalRow(utf8(view))
      }),
    "compact" -> new GraftProcedure(
      "compact",
      "rewrite a fragmented table: partitioned tables via dynamic " +
        "self-overwrite in place, unpartitioned via a relocating rewrite " +
        "(a staged generation and one descriptor flip, rollback-able; " +
        "both under the write-permit lease, honoring graft.cluster.by); " +
        "also FOLDS merge-on-read deletion vectors",
      Array(param("table", StringType)),
      StructType(Seq(StructField("table", StringType, nullable = false))),
      in => {
        val t = in.getUTF8String(0).toString
        graft.operators.Compaction.compact(spark, t)
        InternalRow(utf8(t))
      }),
    "zorder" -> new GraftProcedure(
      "zorder",
      "atomically rewrite an unpartitioned table Z-ordered by the given " +
        "numeric columns (comma list) into target_files files — every " +
        "file gets a tight per-column min/max box, so q109's skip-stats " +
        "manifest prunes on ANY of the columns (the OPTIMIZE ZORDER " +
        "capability; the relocating rewrite shared with compact and " +
        "migrate: a staged generation and one descriptor flip)",
      Array(param("table", StringType),
        param("columns", StringType),
        paramDefault("target_files", LongType, "32")),
      StructType(Seq(StructField("table", StringType, nullable = false),
        StructField("files", LongType, nullable = false))),
      in => {
        val t = in.getUTF8String(0).toString
        val cols = in.getUTF8String(1).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val files = if (in.isNullAt(2)) 32 else in.getLong(2).toInt
        graft.operators.Zorder.zorder(spark, t, cols, files)
        InternalRow(utf8(t), files.toLong)
      }),
    "analyze" -> new GraftProcedure(
      "analyze",
      "recompute table/partition size statistics from the filesystem, " +
        "and optionally per-column NDV/null/min/max/length statistics " +
        "('*' or a comma list) in ONE distributed pass — plus " +
        "equi-height histograms for numeric columns when " +
        "histogram_bins > 0 (one extra scan for per-bin NDV). The " +
        "planner sees everything through DSv2 columnStats and CBO's " +
        "cardinality estimation (data-mutating commits invalidate, " +
        "ANALYZE is the only producer)",
      Array(param("table", StringType),
        paramDefault("columns", StringType, "''"),
        paramDefault("histogram_bins", LongType, "0")),
      StructType(Seq(StructField("partitions_sized", LongType, nullable = false),
        StructField("size_in_bytes", LongType, nullable = false),
        StructField("columns_analyzed", LongType, nullable = false))),
      in => {
        val table = in.getUTF8String(0).toString
        val (plugin, Array(db, name)) = GraftCatalog.resolve(spark, table, "analyze")
        val colsArg =
          if (in.isNullAt(1)) "" else in.getUTF8String(1).toString.trim
        val histBins = if (in.isNullAt(2)) 0 else in.getLong(2).toInt
        require(histBins >= 0 && histBins <= 254,
          s"histogram_bins must be in [0, 254], got $histBins")
        val store = plugin.metaStore
        val conf = spark.sessionState.newHadoopConf()
        // PERMIT-FREE sizing: only COMMITTED data is counted. A
        // concurrent append's uncommitted bytes live under hidden names
        // (`_temporary` staging, `.`-prefixed tmp files) which the walk
        // skips, so there is nothing a lease would protect — the
        // measured size is "all data committed as of some instant
        // during the pass", which is what ANALYZE means. A long listing
        // pass therefore neither blocks writers nor waits on them.
        def hidden(n: String): Boolean = n.startsWith("_") || n.startsWith(".")
        def committedBytes(p: org.apache.hadoop.fs.Path): Long = {
          val fs = p.getFileSystem(conf)
          def walk(st: org.apache.hadoop.fs.FileStatus): Long =
            if (hidden(st.getPath.getName)) 0L
            else if (st.isDirectory) fs.listStatus(st.getPath).map(walk).sum
            else st.getLen
          if (fs.exists(p)) walk(fs.getFileStatus(p)) else 0L
        }
        // COLUMN statistics — one distributed aggregate pass through the
        // catalog read path (at 100 TB this is the only viable shape:
        // approx_count_distinct is a mergeable HLL, min/max/count are
        // partial-aggregated map-side, so the pass costs one scan
        // regardless of column count). min/max are stored string-encoded
        // and cast back through the schema type at report time.
        val schema = store.loadTable(db, name).schema
        def analyzable(f: org.apache.spark.sql.types.StructField): Boolean =
          f.dataType match {
            case _: org.apache.spark.sql.types.NumericType |
                 org.apache.spark.sql.types.StringType |
                 org.apache.spark.sql.types.BooleanType |
                 org.apache.spark.sql.types.DateType |
                 org.apache.spark.sql.types.TimestampType |
                 org.apache.spark.sql.types.TimestampNTZType |
                 org.apache.spark.sql.types.BinaryType => true
            case _ => false
          }
        val selected: Seq[org.apache.spark.sql.types.StructField] =
          if (colsArg.isEmpty) Nil
          else if (colsArg == "*") schema.fields.toSeq.filter(analyzable)
          else colsArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { c =>
            val f = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
              throw new IllegalArgumentException(
                s"analyze: unknown column '$c' (schema: " +
                  s"${schema.fieldNames.mkString(", ")})"))
            require(analyzable(f),
              s"analyze: column '$c' has unanalyzable type ${f.dataType.sql}")
            f
          }
        val collected: Option[(Long, Map[String, ColumnStatsMeta])] =
          if (selected.isEmpty) None
          else {
            import org.apache.spark.sql.functions._
            val df = spark.table(table)
            val aggs = statAggs(selected, histBins)
            val row = df.agg(aggs.head, aggs.tail: _*).head()
            // pass 2 (only when histograms were requested): per-bin
            // approx NDV for every numeric column, one conditional
            // sketch per (column, bin), all in ONE scan
            val histTargets: Seq[(org.apache.spark.sql.types.StructField, Seq[Double])] =
              selected.flatMap(f => histBounds(row, f, histBins).map(f -> _))
            val binNdv: Map[(String, Int), Long] =
              if (histTargets.isEmpty) Map.empty
              else {
                val binExprs = histTargets.flatMap { case (f, bs) =>
                  (0 until histBins).map { i =>
                    val c = col(f.name).cast("double")
                    val inBin =
                      if (i == 0) c >= bs(0) && c <= bs(1)
                      else c > bs(i) && c <= bs(i + 1)
                    approx_count_distinct(when(inBin, c)).as(s"hb:${f.name}:$i")
                  }
                }
                val r2 = df.agg(binExprs.head, binExprs.tail: _*).head()
                histTargets.flatMap { case (f, _) =>
                  (0 until histBins).map(i =>
                    (f.name, i) -> r2.getLong(r2.fieldIndex(s"hb:${f.name}:$i")))
                }.toMap
              }
            Some(readStats(row, selected, histBins,
              (c, _, i) => binNdv.getOrElse((c, i), 0L)))
          }
        // PER-PARTITION row counts AND column statistics ride the same
        // analyze invocation (ONE grouped aggregate over the partition
        // columns): the scan reports the SURVIVING partitions' sums as
        // its post-pruning numRows, and merges their per-partition
        // NDV/null/min-max into post-pruning columnStats — so CBO
        // estimates with the pruned data's cardinalities, not the whole
        // table's (a date-pruned week of a year-long table plans with
        // the week's NDVs). Spec keys are encoded by the one
        // partition-value rule ([[PartitionValues.encode]]), so they
        // equal the stored specs for every partition column type.
        // PER-PARTITION HISTOGRAMS (round 19): when histogram_bins > 0, the same
        // grouped pass also sketches per-partition equi-height
        // boundaries (approx_percentile is mergeable, so still ONE
        // scan); per-bin NDV is approximated as partitionNDV / bins —
        // range-selectivity (the estimate that flips joins) uses bin
        // heights and boundaries, where the per-partition bins carry
        // the real win: a pruned survivor's skew estimates from ITS
        // distribution, not the whole table's.
        val partRowCounts: Map[Map[String, String], (Long, Map[String, ColumnStatsMeta])] = {
          val pcs = store.loadTable(db, name).partitionColumns
          if (selected.isEmpty || pcs.isEmpty) Map.empty
          else {
            import org.apache.spark.sql.functions.col
            val perPartCols = selected.filterNot(f =>
              pcs.exists(_.equalsIgnoreCase(f.name)))
            val aggs = statAggs(perPartCols, histBins)
            spark.table(table)
              .groupBy(pcs.map(col): _*)
              .agg(aggs.head, aggs.tail: _*).collect().map { r =>
                pcs.zipWithIndex.map { case (c, i) =>
                  c -> PartitionValues.encode(spark, org.apache.spark.sql.catalyst
                    .expressions.Literal.create(r.get(i), r.schema(i).dataType))
                }.toMap -> readStats(r, perPartCols, histBins,
                  (_, ndv, _) => math.max(1L, ndv / histBins))
              }.toMap
          }
        }
        // Bounded retry handles a migrate committing mid-pass: the
        // atomic merge REFUSES when the table location moved since the
        // sizing snapshot (the walked dirs belong to a retired
        // generation), and the pass re-runs on the fresh descriptor.
        // Partitions added or relocated since the snapshot keep their
        // current record (the next analyze sizes them); everything else
        // merges by spec under the descriptor monitor.
        var attempt = 0
        var result: InternalRow = null
        while (result == null) {
          attempt += 1
          val snap = store.loadTable(db, name)
          val sized = snap.partitions.map(pm => pm.spec ->
            committedBytes(graft.catalog.write.GraftBatchWrite.dirOf(snap, pm))).toMap
          val tableBytes =
            if (snap.partitionColumns.isEmpty)
              committedBytes(new org.apache.hadoop.fs.Path(snap.location))
            else sized.values.sum
          val preLoc = snap.partitions.map(p => p.spec -> p.location).toMap
          val updated = store.updateTable(db, name) { cur =>
            if (cur.location != snap.location) cur // stale pass: refuse, no churn
            else {
              val merged = cur.partitions.map { p =>
                val sizedP = sized.get(p.spec)
                  .filter(_ => preLoc.get(p.spec).contains(p.location))
                  .map(b => p.copy(sizeInBytes = b)).getOrElse(p)
                partRowCounts.get(p.spec)
                  .filter(_ => preLoc.get(p.spec).contains(p.location))
                  .map { case (rc, cs) =>
                    sizedP.copy(rowCount = Some(rc), colStats = cs) }
                  .getOrElse(sizedP)
              }
              // freshly collected column stats win; a size-only refresh
              // PRESERVES the existing ones (data-mutating commits are
              // what invalidates them, not re-sizing)
              val (nr, cs) = collected match {
                case Some((n, cols)) => (Some(n), cols)
                case None => (cur.stats.flatMap(_.numRows),
                  cur.stats.map(_.colStats).getOrElse(
                    Map.empty[String, ColumnStatsMeta]))
              }
              cur.copy(partitions = merged,
                stats =
                  if (cur.partitionColumns.isEmpty)
                    Some(TableStats(tableBytes, nr, cs))
                  else if (merged.forall(_.isSized))
                    Some(TableStats(merged.map(_.sizeInBytes).sum, nr, cs))
                  else None)
            }
          }
          if (updated.location == snap.location) {
            // ANALYZE is also the manifest (re)build for q109's file
            // skipping: a table that declared graft.skipping.by AFTER
            // its data landed (ALTER) has no per-file ranges until its
            // next write — this walks the same committed files the
            // sizing pass just did and manifests them (no-op without
            // the declaration; advisory, never fails the procedure)
            val skipDirs =
              if (updated.partitionColumns.isEmpty) Seq(updated.location)
              else updated.partitions.map(
                graft.catalog.write.GraftBatchWrite.dirOf(updated, _).toString)
            graft.catalog.SkipStats.maintainDirs(spark, skipDirs,
              updated.schema, updated.properties, updated.provider)
            // ROW formats (avro/csv/json) have no footers for the commit
            // path to read — ANALYZE is their manifest builder: one
            // distributed input_file_name() pass per dir writes the
            // same shards (no-op for parquet/orc or without the
            // declaration)
            graft.catalog.SkipStats.analyzeDirs(spark, skipDirs,
              updated.schema, updated.partitionColumns,
              updated.properties, updated.provider)
            result = InternalRow(sized.size.toLong,
              updated.stats.map(_.sizeInBytes).getOrElse(tableBytes),
              selected.size.toLong)
          }
          else if (attempt >= 3) throw new IllegalStateException(
            s"analyze $db.$name: table location moved $attempt times " +
              "during sizing (concurrent migrations); re-run when the " +
              "maintenance churn settles")
        }
        result
      }),
    "migrate" -> new GraftProcedure(
      "migrate",
      "rewrite a table into a new provider and atomically flip the " +
        "descriptor (the working SET FILEFORMAT); old generation is " +
        "reclaimed by vacuum_namespace after retention",
      Array(param("table", StringType), param("provider", StringType)),
      StructType(Seq(StructField("table", StringType, nullable = false),
        StructField("provider", StringType, nullable = false))),
      in => {
        val (t, p) = (in.getUTF8String(0).toString, in.getUTF8String(1).toString)
        graft.operators.Migrate.toProvider(spark, t, p)
        InternalRow(utf8(t), utf8(p))
      }))

  def load(ns: Array[String], name: String): Option[UnboundProcedure] =
    if (ns.length == 1 && ns.head == Sys) All.get(name) else None

  def list(ns: Array[String]): Option[Array[String]] =
    if (ns.length == 1 && ns.head == Sys) Some(All.keys.toArray.sorted) else None
}
