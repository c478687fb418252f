package graft.streaming

import graft.operators.MgSummary
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incrementally maintained frequent-items shelf: each micro-batch
  * compresses to its own Misra-Gries summary relation (≤ groups × (k+1)
  * rows) and folds into the persisted state, so "top talkers per table,
  * ever" serves at any moment from the summary alone, within the
  * mergeable-MG bound (undercount ≤ n/(k+1), operators/MgSummary.scala).
  *
  * MG merge is NOT idempotent (counters add): the version fence of
  * [[VersionedState.fold]] is what keeps a retried batch from
  * double-counting. */
object FrequentItemsMaintenance {

  /** Fold one micro-batch into the summary at `dir` — call from
    * foreachBatch. `k` must match across all folds into one dir. */
  def update(dir: String, batch: DataFrame, batchId: Long,
             grpCol: String, itemCol: String, k: Int): Unit =
    VersionedState.fold(batch.sparkSession, dir, batchId) { old =>
      val part = MgSummary.build(batch, grpCol, itemCol, k)
      old.map(MgSummary.merge(_, part, k)).getOrElse(part)
    }

  /** Newest committed summary relation (grp, item, c). */
  def snapshot(spark: SparkSession, dir: String): DataFrame =
    VersionedState.readState(spark, dir, "frequent-items")

  /** Serve candidates (grp, item, c, n) from the persisted summary. */
  def candidates(spark: SparkSession, dir: String): DataFrame =
    MgSummary.candidates(snapshot(spark, dir))
}
