package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Attempt-stamped commit ledger for snapshot-catalog store tables appended by
  * Structured Streaming `foreachBatch` bodies — the exactly-once protocol
  * shared by the MinHash signature store ([[MinHashLsh.appendToStore]])
  * and the IVFADC code store ([[PqAdc.appendToPqStore]]).
  *
  * foreachBatch delivers at-least-once: after a mid-batch failure or a
  * stream restart the SAME batchId is re-delivered, and a naive append
  * would duplicate store rows (and, in a screen-then-ingest loop, let a
  * document pair with its own half-ingested copy). The ledger closes that
  * window with two rules:
  *
  *   1. every data row is stamped `(batch_nr, attempt)` at write time
  *      ([[stamp]]), and the marker row lands in the ledger table LAST —
  *      the single commit point of the batch ([[commit]]);
  *   2. readers see a row iff its (batch_nr, attempt) is in the ledger
  *      ([[IngestLedger.visible]]), so rows of an attempt that died
  *      between the data append and the marker are invisible forever —
  *      the same contract snapshot-based table formats give orphan files.
  *
  * A committed batchId no-ops on re-delivery ([[isCommitted]], checked at
  * the top of each foreachBatch body); a replay of an UNcommitted batch
  * re-runs under a fresh attempt id, stranding the dead attempt's rows
  * outside every committed view.
  *
  * The ledger table is model-sized (one row per committed batch), so the
  * read-side filter is a broadcast semi-join that preserves the store
  * side's bucketed output partitioning — committed views join exactly as
  * shuffle-free as the raw tables.
  *
  * Ledgers live on the snapshot catalog: `db` is `<cat>.<ns>`, so each
  * marker append is one manifest commit ([[graft.sources.StoreTables]]).
  */
final case class IngestLedger(db: String, table: String) {

  def fqn: String = s"$db.$table"

  /** Committed `(batch_nr, attempt)` markers — the visibility ledger.
    * Empty frame (not an error) if the store predates its first commit. */
  def committed(s: SparkSession): DataFrame =
    if (s.catalog.tableExists(fqn)) s.table(fqn)
    else s.range(0).select(col("id").as("batch_nr"), lit("").as("attempt"),
      lit("").as("stream_id"))

  /** Replay detection keys on (STREAM, batch): a new logical stream over
    * an existing store restarts its batchIds at 0 (fresh checkpoint), and
    * a bare-batchId check would silently skip its first batches as
    * "replays" of the previous stream's. */
  def isCommitted(s: SparkSession, batchId: Long,
      streamId: String = IngestLedger.DefaultStream): Boolean =
    s.catalog.tableExists(fqn) &&
      !s.table(fqn).filter(col("batch_nr") === batchId &&
        col("stream_id") === streamId).isEmpty

  /** Stamp data rows with the attempt identity they are written under. */
  def stamp(df: DataFrame, batchId: Long, attempt: String): DataFrame =
    df.withColumn("batch_nr", lit(batchId)).withColumn("attempt", lit(attempt))

  /** The commit point: append the marker that makes an attempt's rows
    * visible. Must be the LAST write of the batch body. */
  def commit(s: SparkSession, batchId: Long, attempt: String,
      streamId: String = IngestLedger.DefaultStream): Unit = {
    import s.implicits._
    graft.sources.StoreTables.append(
      Seq((batchId, attempt, streamId)).toDF("batch_nr", "attempt", "stream_id"), fqn)
  }

  /** Committed view of a stamped store table registered under `db`. */
  def committedOnly(s: SparkSession, store: DataFrame): DataFrame =
    IngestLedger.visible(store, committed(s))
}

object IngestLedger {

  /** Stamp of a one-shot bulk store build: `batch_nr` below any streaming
    * batchId (those start at 0), a fixed attempt token. */
  val BulkBatchNr: Long = -1L
  val BulkAttempt: String = "bulk"

  /** Stream identity for single-stream stores. A SECOND logical stream
    * ingesting into the same store (new checkpoint, batchIds restarting at
    * 0) must pass its own id, or its first batches would read as replays. */
  val DefaultStream: String = "default"

  /** Attempt ids need only be unique per (store, batch) across retries —
    * operational metadata, never part of a query's deterministic output. */
  def newAttempt(): String = java.util.UUID.randomUUID().toString

  /** Restrict a stamped store frame to committed rows. Broadcast
    * left-semi on the model-sized ledger: preserves the store side's
    * (bucketed) output partitioning, so probe joins planned on top stay
    * shuffle-free. */
  def visible(store: DataFrame, commits: DataFrame): DataFrame =
    store.join(broadcast(commits.select("batch_nr", "attempt")),
      Seq("batch_nr", "attempt"), "left_semi")
}
