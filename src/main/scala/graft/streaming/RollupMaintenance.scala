package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incrementally maintained serving rollup: each micro-batch folds
  * its PARTIAL (hour × schema × table × op) aggregate into a persisted
  * rollup, so hourly op statistics serve without recomputing over the
  * archive. Counts and DECIMAL sums merge associatively, so incremental
  * maintenance is bit-identical to a one-shot aggregation over
  * everything the stream has delivered (RollupSpec pins this).
  *
  * A SUM rollup is NOT idempotent: the version fence of
  * [[VersionedState.fold]] is what keeps a retried batch from
  * double-counting. State is bounded by the key space, never by stream
  * volume: the merge unions two rollup-sized tables. */
object RollupMaintenance {

  private val Amt = DecimalType(18, 2)

  /** (hour, schema, table, op) partial aggregate of one micro-batch of
    * parsed, selected envelope rows (CdcStreamPipeline.parseLines
    * output). Table identity is in the key so a wildcard-selected
    * multi-table stream rolls up per shard — the streaming counterpart
    * of q101's per-table op stats; single-table streams just carry two
    * constant columns. */
  def partial(batch: DataFrame): DataFrame =
    batch.groupBy(
      date_format(col("event_ts"), "yyyy-MM-dd HH").as("h"),
      col("metadata.`schema-name`").as("sch"),
      col("metadata.`table-name`").as("tbl"),
      col("metadata.operation").as("op"))
      .agg(count(lit(1)).cast("long").as("c"),
        sum(col("data.amount").cast(Amt)).cast(Amt).as("amt"))

  /** Associative merge of rollup states/partials. */
  def merge(old: Option[DataFrame], p: DataFrame): DataFrame = {
    val all = old.map(_.unionByName(p)).getOrElse(p)
    all.groupBy("h", "sch", "tbl", "op")
      .agg(sum(col("c")).cast("long").as("c"),
        sum(col("amt")).cast(Amt).as("amt"))
  }

  /** Fold one micro-batch into the persisted rollup at `rollupDir`.
    * Call from the stream's foreachBatch with the batch's parsed good
    * rows; idempotent per batchId. */
  def update(rollupDir: String, batch: DataFrame, batchId: Long): Unit =
    VersionedState.fold(batch.sparkSession, rollupDir, batchId)(
      merge(_, partial(batch)))

  /** Newest complete rollup state. */
  def snapshot(spark: SparkSession, rollupDir: String): DataFrame =
    VersionedState.readState(spark, rollupDir, "rollup")
}
