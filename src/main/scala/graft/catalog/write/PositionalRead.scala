package graft.catalog.write

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, substring_index}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.catalog.{Snapshots, TableMeta}

/** POSITION-DELETE plumbing (q121) — merge-on-read DML for tables with
  * NO natural row-identity key: `graft.dml.mode = merge-on-read` without
  * `graft.dml.key` makes the row identity the pair
  * (`_file`, `_pos`) — the file the row lives in and its ordinal within
  * that file — the Iceberg position-delete shape, here served entirely
  * by Spark's own machinery:
  *
  *  - `_pos` is the parquet reader's native `_metadata.row_index`
  *    generated column (correct under predicate pushdown and row-group
  *    skipping, vectorized), which is why positional mode is
  *    parquet-only;
  *  - `_file` is NOT the raw physical path: it is the file's LOGICAL
  *    identity `qualified-original-dir + "/" + basename`. Retirement
  *    moves files into `_graft_retired` areas while travel/CDC reads
  *    keep addressing them by their original directory
  *    ([[Snapshots.ResolvedDir]]'s contract), so a positional delete
  *    recorded against the physical path would silently stop applying
  *    the moment its file retires — deleted rows resurfacing in travel
  *    reads. Building the identity from the plan-time directory literal
  *    plus the executor-side basename keeps write-time and read-time
  *    values byte-identical across moves. (Basenames alone would NOT
  *    do: one dynamic-partition task writes the same
  *    `part-<split>-<jobUUID>` name into every partition dir it
  *    touches.)
  *
  * Both the DML's delta read and every subsequent read of the table are
  * planned by [[graft.plans.ResolveDeletionVectors]] from this one
  * helper, so the anti-join compares values produced by the same
  * formula on both sides.
  *
  * 100 TB posture: the V1 reads here are per-directory over EXPLICIT
  * file lists (no listing; statuses come from the planner's seq-keyed
  * cache or the pinned snapshot), partition pruning falls out of
  * Catalyst constant-folding the per-directory partition literals under
  * the query's filters, and column pruning / predicate pushdown reach
  * the parquet scan exactly as in any V1 plan. Reference analogue: none
  * (the reference has no row-level ops at all, V2Table.scala:45-47).
  */
private[graft] object PositionalRead {

  /** The reserved metadata-column names (exposed on positional tables
    * via `SupportsMetadataColumns`; refused as data-column names at
    * DDL). `_file`/`_pos` are the Iceberg spellings. */
  val FileCol = "_file"
  val PosCol = "_pos"

  /** The `DvMeta.keyColumn` / batch-manifest marker distinguishing a
    * positional batch from equality-key batches. Starts with '#' so it
    * can never collide with a declared column name. */
  val Marker = "#positional"

  /** Sidecar schema: one (file-identity, row-ordinal) pair per deleted
    * row. */
  val idFields: Seq[StructField] = Seq(
    StructField(FileCol, StringType, nullable = false),
    StructField(PosCol, LongType, nullable = false))

  def isReserved(name: String): Boolean =
    name.equalsIgnoreCase(FileCol) || name.equalsIgnoreCase(PosCol)

  /** A DataFrame over an explicit resolved file set: the table's columns
    * in schema order (partition values restored as typed literals per
    * directory) plus, when `withMeta`, the positional identity columns
    * [[FileCol]]/[[PosCol]]. `dirs` must be non-empty; empty dirs (no
    * files) contribute nothing. */
  def filesDf(
      spark: SparkSession,
      meta: TableMeta,
      dirs: Seq[Snapshots.ResolvedDir],
      withMeta: Boolean): DataFrame = {
    require(meta.provider == "parquet",
      s"positional reads are parquet-only, got provider ${meta.provider}")
    val conf = spark.sessionState.newHadoopConf()
    // readOptions also injects the parquet field-id matching switch for
    // id-mapped tables (positional tables are managed parquet, so
    // renames compose with position deletes)
    val readOpts = graft.catalog.GraftCatalog.readOptions(meta)
    val perDir = dirs.filter(_.files.nonEmpty).map { rd =>
      val dirIdentity = new Path(rd.dir).getFileSystem(conf)
        .makeQualified(new Path(rd.dir)).toString
      // the planner already holds these statuses (seq-keyed listing
      // cache / pinned snapshot) — serve them through the pinned V1
      // index instead of re-stat-ing every path per planning pass
      val base = org.apache.spark.sql.graft.GraftSqlBridge.pinnedParquetDF(
        spark, meta.dataSchema, rd.files, readOpts)
      val partCols: Map[String, Column] =
        meta.partitionSchema.fields.map { f =>
          val v = graft.catalog.PartitionValues.lookup(rd.spec, f.name) match {
            case Some(s) if s != graft.catalog.PartitionValues.NullName =>
              lit(s).cast(f.dataType)
            case _ => lit(null).cast(f.dataType)
          }
          f.name -> v.as(f.name)
        }.toMap
      val ordered: Seq[Column] = meta.schema.fields.map(f =>
        partCols.getOrElse(f.name, col(f.name))).toSeq
      val metaCols: Seq[Column] =
        if (withMeta) Seq(
          concat(lit(dirIdentity + "/"),
            substring_index(col("_metadata.file_path"), "/", -1)).as(FileCol),
          col("_metadata.row_index").as(PosCol))
        else Nil
      base.select(ordered ++ metaCols: _*)
    }
    require(perDir.nonEmpty,
      "positional read over zero files — callers route empty groups to " +
        "an empty relation")
    perDir.reduce(_ union _)
  }

  /** The deleted-position pairs of one or more batches, read from their
    * sidecar parquet dirs with the explicit [[idFields]] schema (no
    * inference round-trip). */
  def keysDf(spark: SparkSession, keyDirs: Seq[String]): DataFrame =
    spark.read.schema(StructType(idFields)).parquet(keyDirs: _*)

  /** Join `base` to recorded positions on the (file, pos) pair —
    * `left_anti` HIDES the deleted positions (the read path),
    * `left_semi` SELECTS them (the CDC delete-image path). `base` must
    * carry [[FileCol]]/[[PosCol]]; both sides are built by this helper
    * so the identities compare byte-for-byte. Positions are unique per
    * file, so a UNION of several batches' keys anti-joins identically
    * to applying the batches in sequence. */
  def applyBatches(
      base: DataFrame, keys: DataFrame,
      joinType: String = "left_anti"): DataFrame = {
    val k = keys
      .withColumnRenamed(FileCol, "__graft_dv_file")
      .withColumnRenamed(PosCol, "__graft_dv_pos")
    base.join(k,
      base(FileCol) <=> k("__graft_dv_file") &&
        base(PosCol) <=> k("__graft_dv_pos"),
      joinType)
  }
}
