package graft.streaming

import graft.operators.Hll
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incrementally maintained HLL sketch shelf: each micro-batch builds
  * its per-group HLL relation and folds it into the persisted sketch
  * state, so "distinct users per table, ever" serves at any moment from
  * registers alone — no archive rescan, no per-key streaming state. The
  * state is `groups × 2^lgK` registers whatever the stream's volume.
  *
  * HLL union is a register-wise semilattice (PropertySpec pins merge ==
  * rebuild), so N incremental folds estimate identically to one build
  * over everything delivered. Each fold is one [[VersionedState.fold]],
  * so a retried batch skips and no reader sees a torn state. */
object SketchMaintenance {

  /** Fold one micro-batch into the sketch state at `sketchDir` — call
    * from foreachBatch. `groupCol`/`keyCol` name the batch's columns. */
  def update(sketchDir: String, batch: DataFrame, batchId: Long,
             groupCol: String, keyCol: String, lgK: Int = 12): Unit =
    VersionedState.fold(batch.sparkSession, sketchDir, batchId) { old =>
      val part = Hll.build(batch, groupCol, keyCol, lgK)
      old.map(Hll.merge(_, part)).getOrElse(part)
    }

  /** Newest committed sketch relation `(grp, sketch, lgk)`. */
  def snapshot(spark: SparkSession, sketchDir: String): DataFrame =
    VersionedState.readState(spark, sketchDir, "sketch")

  /** Serve the distinct-count estimates from the registers alone. */
  def estimates(spark: SparkSession, sketchDir: String): DataFrame =
    Hll.estimateDistinct(snapshot(spark, sketchDir))
}
