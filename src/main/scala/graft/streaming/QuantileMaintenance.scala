package graft.streaming

import graft.operators.QuantileSample
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incrementally maintained quantile-sample shelf: each micro-batch
  * builds its bottom-k hash-rank sample and folds it into the persisted
  * sketch, so per-group p50/p95/p99 serve from ≤ k rows per group at any
  * moment. Bottom-k over the md5 ring is a semilattice (PropertySpec
  * pins merge == rebuild), so the estimate after any prefix of batches
  * is EXACTLY the estimate a batch job computes over that prefix.
  *
  * The fold dedups on (grp, key) before re-ranking, so a retried batch
  * would not change the sample; the version fence of
  * [[VersionedState.fold]] skips its work all the same. */
object QuantileMaintenance {

  /** Fold one micro-batch into the sketch at `dir` — call from
    * foreachBatch. `k` must match across all folds into one dir
    * (QuantileSample.merge is loud if it doesn't). */
  def update(dir: String, batch: DataFrame, batchId: Long,
             groupCol: String, rowKeyCol: String, valueCol: String,
             k: Int): Unit =
    VersionedState.fold(batch.sparkSession, dir, batchId) { old =>
      val part =
        QuantileSample.build(batch, groupCol, rowKeyCol, valueCol, k)
      old.map(QuantileSample.merge(_, part)).getOrElse(part)
    }

  /** Newest committed sketch relation (grp, key, h, v, rn, k). */
  def snapshot(spark: SparkSession, dir: String): DataFrame =
    VersionedState.readState(spark, dir, "quantile")

  /** Serve per-group quantile estimates from the persisted sample. */
  def estimates(spark: SparkSession, dir: String, qs: Seq[Double]): DataFrame =
    QuantileSample.estimateQuantiles(snapshot(spark, dir), qs)
}
