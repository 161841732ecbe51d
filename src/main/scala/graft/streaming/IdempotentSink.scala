package graft.streaming

import java.nio.file.{Files, Paths}

import graft.streaming.Pipeline.RowSink
import org.apache.spark.sql.DataFrame

/** Exactly-once hardening for foreachBatch sinks.
  *
  * Structured Streaming's checkpoint makes batch REPLAY possible but
  * not invisible: if the process dies after the sink wrote but before
  * the batch committed, the restarted query re-runs the same batchId —
  * an append sink would double-write (at-least-once). foreachBatch's
  * contract is that batchId is stable across replays, so recording
  * committed ids turns any sink idempotent: replayed batches are
  * skipped.
  *
  * HONEST LIMIT of the file ledger used here: the marker is created
  * AFTER inner.write returns, non-atomically — a crash in between
  * re-delivers that one batch on restart, so this class alone is
  * at-least-once in exactly that window. True exactly-once requires
  * the sink's write and the ledger commit to share one transaction —
  * that variant is implemented: [[JdbcOutboxSink]] commits the data
  * rows and their (batch_id, part_id) ledger rows atomically per
  * write task (the classic transactional outbox; JdbcSinkSpec kills a
  * task inside the window this class cannot close and proves zero
  * duplicates). Alternatively an inner sink that is itself idempotent
  * per (batchId, row) needs no ledger at all ([[JdbcUpsertSink]]).
  * The file ledger remains the right shape for tests and for
  * object-store sinks whose "write" is an atomic rename.
  */
final class IdempotentSink(inner: RowSink, ledgerDir: String) extends RowSink {
  override def write(batch: DataFrame, batchId: Long): Unit = {
    val marker = Paths.get(ledgerDir, s"batch-$batchId.committed")
    if (Files.exists(marker)) return // replayed batch — already delivered
    inner.write(batch, batchId)
    Files.createDirectories(marker.getParent)
    Files.createFile(marker)
  }
}
