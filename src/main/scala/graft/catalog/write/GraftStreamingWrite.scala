package graft.catalog.write

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

import graft.catalog.{GraftCatalog, MetaStore}

/** STREAMING_WRITE for a graft catalog table — the write-side twin of the
  * `V2TableWithV1Fallback` streaming READ (the reference's `V2Table`
  * stopped at batch on both sides, /root/reference/.../V2Table.scala:45-47;
  * this and the read fallback are beyond-reference surface).
  *
  * Each micro-batch epoch is ONE full batch write: a fresh job-scoped
  * [[GraftBatchWrite]] (own job id, committer, file-IO delegation,
  * write-permit acquisition, two-phase FS → catalog commit) is created
  * per epoch by `newEpoch`, exactly as a batch `INSERT INTO` would run.
  * Micro-batch execution drives the delegate through this adapter:
  * `createStreamingWriterFactory` is invoked once per epoch (each
  * epoch's `MicroBatchWrite` wraps a fresh factory), then
  * `commit(epochId, …)` / `abort(epochId, …)` close out that epoch's
  * delegate. Epochs are strictly sequential in micro-batch mode, so one
  * `current` delegate slot suffices; continuous mode is not supported
  * (the capability set advertises micro-batch semantics only).
  *
  * '''Restart idempotence (exactly-once per epoch).''' Structured
  * Streaming re-runs the last epoch after a crash that lost the
  * checkpoint's commit record — the sink contract is "idempotent by
  * (queryId, epochId)". The committed-epoch watermark for this query
  * lives IN the table descriptor (`graft.stream.epoch.<queryId>`,
  * [[GraftCatalog.StreamEpochPropPrefix]]) and is stamped by
  * [[GraftBatchWrite.metaExtra]] inside the commit's one descriptor
  * publish — the SAME write that registers the epoch's partitions and
  * stats and records its snapshot. A replayed APPEND epoch
  * is therefore detected under the table's write permit and ABORTED
  * (staged files dropped by the commit protocol; the table keeps the
  * original epoch's data), never double-appended. A replayed
  * COMPLETE-mode (per-epoch truncate) epoch instead RE-COMMITS: its
  * truncate already ran at epoch start, so an abort would leave the
  * table empty — and re-committing is value-idempotent because the
  * engine replays the epoch from the same offsets. Epoch ids are
  * monotone per query, so the log is one property per query, not per
  * batch.
  *
  * Atomicity note, stated honestly: for an UNPARTITIONED parquet table
  * the files become listing-visible at the FS commit, a moment before
  * the descriptor write that marks the epoch committed — a crash in
  * that window leaves the epoch's files visible but unmarked, and the
  * replay appends again (the batch file sink has the identical window;
  * closing it needs a manifest-gated reader). The fully idempotent
  * ingest shape for that regime is s12's per-batch MERGE on a key.
  * Readers of PARTITIONED tables list through the catalog-tracked
  * index, whose registration IS the marked commit — no window.
  *
  * 100 TB posture: per-epoch cost is exactly one batch append (same
  * clustering requirement — partition-column distribution — so a
  * day-partitioned ingest writes few large files per partition per
  * epoch); state held by the sink is zero (the table is the state);
  * the descriptor grows by one property per distinct query id. */
class GraftStreamingWrite(
    store: MetaStore,
    db: String,
    tableName: String,
    queryId: String,
    truncatesPerEpoch: Boolean,
    newEpoch: () => GraftBatchWrite)
  extends StreamingWrite {

  private val epochProp = GraftCatalog.StreamEpochPropPrefix + queryId

  /** The in-flight epoch's batch delegate. Micro-batch epochs are
    * sequential within a query run, so a single slot is sufficient;
    * volatile because Spark may commit from a different thread than the
    * one that planned the factory. */
  @volatile private var current: GraftBatchWrite = _

  override def useCommitCoordinator(): Boolean = false

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val delegate = newEpoch()
    current = delegate
    // driver-side: acquires the table's write permit and runs pre-write
    // repair, exactly as the batch path does
    val inner = delegate.createBatchWriterFactory(info)
    new GraftStreamingWrite.EpochWriterFactory(inner)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val delegate = current
    // Replay detection runs under the write permit (held by the delegate
    // since factory creation), and the epoch log is only ever advanced
    // by commits holding that permit — so this read cannot race another
    // writer of the same table.
    val alreadyCommitted = store.loadTableLocked(db, tableName)
      .properties.get(epochProp).exists(_.toLong >= epochId)
    if (alreadyCommitted && !truncatesPerEpoch) {
      // APPEND mode: a restart replayed an epoch whose commit already
      // published — drop this run's staged files, keep the original data
      delegate.abort(messages)
    } else {
      // New epoch — or a replayed COMPLETE-mode (truncate) epoch. The
      // latter must RE-COMMIT, not abort: its truncate already ran at
      // epoch start (preWriteDeletes at factory creation, the batch
      // path's delete timing), so aborting here would leave the table
      // EMPTY — losing the original epoch's data the abort meant to
      // protect. Re-committing is value-idempotent in complete mode:
      // the engine replays the epoch with the same offsets, so the
      // truncate-then-publish lands the identical full result.
      delegate.metaExtra = m => m.copy(properties = m.properties +
        (epochProp -> math.max(epochId,
          m.properties.get(epochProp).map(_.toLong).getOrElse(-1L)).toString))
      delegate.commit(messages)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // an epoch can abort before its factory was ever created (planning
    // failure) — there is then no delegate, no permit, nothing to clean
    val delegate = current
    if (delegate != null) delegate.abort(messages)
  }
}

object GraftStreamingWrite {
  /** Epoch-blind adapter: the file writers neither know nor care about
    * the epoch — idempotence is handled at commit, not in the tasks. */
  private class EpochWriterFactory(inner: DataWriterFactory)
    extends StreamingDataWriterFactory {
    override def createWriter(
        partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
      inner.createWriter(partitionId, taskId)
  }
}
