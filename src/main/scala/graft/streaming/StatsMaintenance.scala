package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Live optimizer statistics — the STREAMING twin of q216's equi-depth
  * selectivity estimator, and the fourth [[BucketedState]] tenant (join
  * view, dup-cluster labels, vocabulary, now column stats). This is the
  * auto-analyze every long-lived engine runs: the per-column value-count
  * relation maintained incrementally under ingest, so range-selectivity
  * estimates (and the equi-depth histogram they derive from) answer at
  * any moment WITHOUT a stats-refresh scan over the table.
  *
  * The fold is a SUM of counts per value — commutative, so delivery
  * order cannot change the converged state (the spec pins reversed-order
  * parity). Unlike the vocabulary tenant's MIN fold, addition is NOT
  * idempotent: the [[VersionedState.committed]] version fence is
  * load-bearing here — a redelivered batch that re-folded would
  * double-count, and the spec pins that a retry is a no-op BECAUSE the
  * fence short-circuits it.
  *
  * State layout: rows hash-bucket on the value; the fold runs through
  * [[BucketedState.foldCommitPruned]] — a batch READS and dirties
  * exactly the buckets its distinct values map to (spec-pinned: a
  * single-value batch reads one bucket and rewrites one bucket
  * directory), so per-trigger cost is O(buckets touched) on both the
  * read and the write side, bounded by the value domain — for the
  * cent-typed metrics q216 profiles, ≤ 49,001 state rows total at ANY
  * ingest volume, making the served histogram metadata-sized forever. */
object StatsMaintenance {

  /** Fan-out at which a fresh stats dir is laid out, and the target of
    * [[compactUpdate]]'s rewrite. An existing dir folds at the p its
    * newest manifest records. */
  val NumBuckets = 8

  private[graft] val stateSchema = StructType(Seq(
    StructField("v", LongType), StructField("cnt", LongType),
    StructField(BucketedState.BucketCol, IntegerType)))

  /** Fold one micro-batch's `v` column (long-typed values, e.g. exact
    * cents) into the stats state at `dir` — call from foreachBatch.
    * The fold is a per-key SUM (key-local), so the pruned path is
    * exact: every value the batch touched changed its count (sum is
    * strictly increasing on positive deltas) and dirty keys = batch
    * keys. Returns the pruned-fold report (None = retried batch
    * short-circuited by the version fence). */
  def update(dir: String, values: DataFrame, batchId: Long)
      : Option[BucketedState.PrunedFold] =
    BucketedState.foldCommitPruned(values.sparkSession, dir, batchId,
      NumBuckets, stateSchema, "v", "stats")(
      batchCounts(values)) { (prev, batch) =>
      prev.unionByName(batch)
        .groupBy("v").agg(sum(col("cnt")).as("cnt"))
    }

  /** One micro-batch reduced to its per-value counts — the keyed batch
    * relation both fold forms share. */
  private def batchCounts(values: DataFrame): DataFrame =
    values.select(col("v").cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))

  /** [[update]]'s COMPACTING form — same fold, published through
    * [[BucketedState.foldCompact]]: the batch folds into the full state
    * and every bucket re-homes at this batch's id. Call INSTEAD of update
    * on a compaction trigger (every N-th engine batch / when the
    * manifest's version spread exceeds a bound), at the ENGINE'S OWN
    * batchId, so the id sequence stays the engine's. */
  def compactUpdate(dir: String, values: DataFrame, batchId: Long): Unit =
    BucketedState.foldCompact(values.sparkSession, dir, batchId,
      NumBuckets, stateSchema, "v", "stats") { prev =>
      prev.unionByName(batchCounts(values))
        .groupBy("v").agg(sum(col("cnt")).as("cnt"))
    }

  /** Newest committed value-count relation `(v, cnt)`. */
  def valueCounts(spark: SparkSession, dir: String): DataFrame =
    BucketedState.readState(spark, dir, stateSchema, "stats")
      .select(col("v"), col("cnt"))

  /** q216's equi-depth histogram over any `(v, cnt)` relation:
    * `(bucket, bmin, bmax, bcnt)`. The cumsum window runs over the
    * value-count relation — value-domain-bounded, not row-bounded. */
  def equiDepth(vc: DataFrame, nBuckets: Int = 16): DataFrame = {
    val n = vc.agg(sum(col("cnt")).as("n"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vc.withColumn("c", sum(col("cnt")).over(w))
      .crossJoin(broadcast(n))
      .withColumn("bucket", expr(s"((c - 1) * $nBuckets) div n"))
      .groupBy("bucket")
      .agg(min(col("v")).as("bmin"), max(col("v")).as("bmax"),
        sum(col("cnt")).as("bcnt"))
  }

  /** 1-row `(est)` relation: the integer range-selectivity estimate for
    * `[lo, hi]` over an [[equiDepth]] histogram — full buckets counted,
    * boundary buckets linearly interpolated with truncating div. The ONE
    * copy of the estimator arithmetic; q216 gates it cross-engine and
    * [[estimateRange]] serves it from state. */
  def rangeEstimate(hist: DataFrame, lo: Long, hi: Long): DataFrame =
    hist.agg(coalesce(sum(expr(
      s"""CASE WHEN bmin >= ${lo}L AND bmax <= ${hi}L THEN bcnt
         |WHEN bmax < ${lo}L OR bmin > ${hi}L THEN 0
         |ELSE (bcnt * (least(${hi}L, bmax) - greatest(${lo}L, bmin) + 1))
         |     div (bmax - bmin + 1) END""".stripMargin)), lit(0L))
      .as("est"))

  /** Range-selectivity estimate `[lo, hi]` served FROM STATE. */
  def estimateRange(spark: SparkSession, dir: String, lo: Long, hi: Long,
                    nBuckets: Int = 16): Long =
    rangeEstimate(equiDepth(valueCounts(spark, dir), nBuckets), lo, hi)
      .collect().head.getLong(0)
}
