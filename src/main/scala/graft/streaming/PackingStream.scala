package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-micro-batch kernel of the STREAMING sequence-packing sink
  * (e20), factored out of the query closure so its exactly-once contract
  * is unit-testable (ADVICE r17: the failure mode the ledger exists for
  * is a genuine micro-batch REDELIVERY — same Spark batchId, same rows —
  * and the state machine must neither double-append the manifest nor
  * double-advance the token-offset carry).
  *
  * Contract, pinned by ExactlyOnceSpec:
  *   - the ledger is keyed on a PHASE-DISAMBIGUATED Spark batch id
  *     ([[StreamingWindows.runPhase]]'s id: phase index × 1,000,000 + the
  *     id the foreachBatch callback delivered) — a
  *     redelivery re-presents the SAME id and hits the committed marker;
  *     a local counter would mint a fresh id and double-append;
  *   - `carry`/`nAppended`/`lastLedgerId` advance ONLY when
  *     [[graft.ops.Bucketing.appendBucketedExactlyOnce]] reports a real
  *     append — a suppressed redelivery leaves the state bit-identical,
  *     so every subsequent window's offset is unaffected even though the
  *     redelivered manifest was (deliberately) recomputed against the
  *     post-advance carry.
  */
object PackingStream {

  /** Cross-batch state: the token offset the stream has packed to, how
    * many batches really appended, and the last committed ledger id (the
    * replay probe's target). One scalar of pipeline state plus two
    * bookkeeping fields — nothing here scales with data.
    */
  final case class State(carry: Long, nAppended: Long, lastLedgerId: Long)

  val Fresh: State = State(0L, 0L, -1L)

  /** Fold one delivered micro-batch into the bucketed manifest store.
    * `manifest` must be the batch's o27 segment manifest computed at
    * `st.carry` (persisted by the caller — it is consumed twice: the
    * append and the token-count aggregate).
    */
  def step(manifest: DataFrame, table: String, nBuckets: Int,
      ledgerDir: java.io.File, ledgerId: Long, st: State): State =
    if (graft.ops.Bucketing.appendBucketedExactlyOnce(manifest, table,
        nBuckets, keys = Seq("bin_id"), ledgerDir = ledgerDir,
        batchId = ledgerId)) {
      State(
        st.carry +
          manifest.agg(coalesce(sum("len"), lit(0L))).head().getLong(0),
        st.nAppended + 1, ledgerId)
    } else st
}
