package graft.catalog.write

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{LongType, StringType, StructField}

/** POSITION-DELETE identity (q121) — merge-on-read DML for tables with
  * NO natural row-identity key: `graft.dml.mode = merge-on-read` without
  * `graft.dml.key` makes the row identity the pair
  * (`_file`, `_pos`) — the file the row lives in and its ordinal within
  * that file — the Iceberg position-delete shape, here served entirely
  * by Spark's own machinery from the pinned DSv2 parquet scan:
  *
  *  - `_pos` is the parquet reader's native row index (the generator
  *    behind Spark's own `row_index` file metadata field; correct under
  *    predicate pushdown and row-group skipping, vectorized), which is
  *    why positional mode is parquet-only — see
  *    [[org.apache.spark.sql.graft.GraftRowIndexScanBuilder]];
  *  - `_file` is NOT the raw physical path: it is the file's LOGICAL
  *    [[identity]] `qualified-original-dir + "/" + basename`, a per-file
  *    partition value of [[graft.catalog.GraftPinnedFileIndex]].
  *    Retirement moves files into `_graft_retired` areas while travel/CDC
  *    reads keep addressing them by their original directory
  *    ([[graft.catalog.Snapshots.ResolvedDir]]'s contract), so a
  *    positional delete recorded against the physical path would
  *    silently stop applying the moment its file retires — deleted rows
  *    resurfacing in travel reads. (Basenames alone would NOT do: one
  *    dynamic-partition task writes the same `part-<split>-<jobUUID>`
  *    name into every partition dir it touches.)
  *
  * Both the DML's delta read and every subsequent read of the table are
  * planned by [[graft.plans.ResolveDeletionVectors]] over pinned
  * fragments, so the anti-join compares values produced by the same
  * formula on both sides. Reference analogue: none (the reference has
  * no row-level ops at all, V2Table.scala:45-47).
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

  /** A data file's logical identity: its ORIGINAL directory, qualified,
    * plus its basename. The `_file` value, and the form a batch
    * manifest's applies-to list records, so it never changes. */
  def identity(dir: Path, name: String, conf: Configuration): String =
    dir.getFileSystem(conf).makeQualified(dir).toString + "/" + name
}
