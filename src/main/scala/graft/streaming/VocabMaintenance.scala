package graft.streaming

import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Incrementally maintained first-seen vocabulary — the STREAMING twin
  * of q203's Heaps-law audit, and the third [[BucketedState]] tenant
  * (join view, dup-cluster labels, now the shingle vocabulary).
  *
  * "Cumulative distinct" is the primitive a streaming corpus audit
  * actually needs (how much NEW vocabulary did today's crawl add?),
  * and it reduces to maintaining min(first doc id) per shingle: each
  * micro-batch folds its per-shingle min into the persisted relation
  * with one shingle-keyed group-min — never a rescan of prior
  * documents. The serving curve (vocabulary after each N-doc prefix)
  * derives from the state alone, so it answers at any moment without
  * touching the corpus.
  *
  * Out-of-order tolerance comes from the fold being a MIN: delivering
  * batches in any order converges to the same state (the spec pins
  * delivery-order invariance), unlike a "first writer wins" register.
  *
  * State layout: shingles are vocabulary-sized (they GROW all corpus
  * long — that is the point of the audit), so neither per-trigger
  * writes NOR per-trigger reads may touch the whole relation. Rows
  * hash-bucket on the shingle FINGERPRINT; the fold runs through
  * [[BucketedState.foldCommitPruned]] — the batch aggregates to its
  * per-shingle mins first, only the buckets those shingles hash to are
  * read and folded, and the commit rewrites only the buckets whose
  * rows changed (new shingles + earlier-than-recorded re-deliveries)
  * through the same staging+rename exactly-once protocol as every
  * shelf tenant. Per-trigger cost is therefore O(batch's shingles),
  * never O(vocabulary) — and write amplification is O(new vocabulary
  * this batch), which Heaps' law says decays as the corpus grows.
  *
  * The state key is the shingle's xxhash64 FINGERPRINT, not the raw
  * trigram string: the audit only ever counts shingles and buckets them
  * by first_doc, so the string itself is dead weight in state and in
  * every exchange — the same ~3x state/shuffle reduction SimJoin
  * measured moving token sets to 64-bit fingerprints
  * (text/SimJoin.scala collision math: P[any collision] ~ V^2 / 2^65 —
  * ~5e-4 at V = 10^8 shingles, far below the sampling noise of any
  * curve this feeds; a collision under-counts `vocab` by exactly 1). */
object VocabMaintenance {

  /** Fan-out at which a fresh vocabulary dir is laid out, and the
    * target of [[compactUpdate]]'s rewrite. An existing dir folds at the
    * p its newest manifest records. */
  val NumBuckets = 8

  private[graft] val stateSchema = StructType(Seq(
    StructField("f", LongType), StructField("first_doc", LongType),
    StructField(BucketedState.BucketCol, IntegerType)))

  /** One micro-batch of documents `(doc_id, text)` reduced to its
    * per-shingle-fingerprint first-doc mins — the keyed batch relation
    * the pruned fold derives its candidate buckets from. */
  private def batchMins(docs: DataFrame): DataFrame = docs
    .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    .withColumn("w", TextOps.tokens(col("text")))
    .filter(size(col("w")) >= 3)
    .select(col("doc_id"), explode(TextOps.trigrams(col("w"))).as("s"))
    .select(col("doc_id"), xxhash64(col("s")).as("f"))
    .groupBy("f").agg(min(col("doc_id")).as("first_doc"))

  /** Fold one micro-batch of documents `(doc_id, text)` into the
    * vocabulary state at `dir` — call from foreachBatch. The fold is a
    * per-key MIN (key-local), so the pruned path is exact: dirty keys
    * ⊆ batch keys by construction. Returns the pruned-fold report
    * (None = retried batch short-circuited by the version fence). */
  def update(dir: String, docs: DataFrame, batchId: Long)
      : Option[BucketedState.PrunedFold] =
    BucketedState.foldCommitPruned(docs.sparkSession, dir, batchId,
      NumBuckets, stateSchema, "f", "vocabulary")(
      batchMins(docs)) { (prev, batch) =>
      prev.unionByName(batch)
        .groupBy("f").agg(min(col("first_doc")).as("first_doc"))
    }

  /** [[update]]'s COMPACTING form — same MIN fold published through
    * [[BucketedState.foldCompact]] (the StatsMaintenance.compactUpdate
    * discipline: call INSTEAD of update at the engine's own batchId). */
  def compactUpdate(dir: String, docs: DataFrame, batchId: Long): Unit =
    BucketedState.foldCompact(docs.sparkSession, dir, batchId, NumBuckets,
      stateSchema, "f", "vocabulary") { prev =>
      prev.unionByName(batchMins(docs))
        .groupBy("f").agg(min(col("first_doc")).as("first_doc"))
    }

  /** Newest committed first-seen relation `(f, first_doc)` — keys are
    * shingle fingerprints. */
  def firstSeen(spark: SparkSession, dir: String): DataFrame =
    BucketedState.readState(spark, dir, stateSchema, "vocabulary")
      .select(col("f"), col("first_doc"))

  /** The q203-shaped growth curve served FROM STATE: (docs_seen,
    * new_shingles, vocab) per `bucketDocs`-document prefix. */
  def curve(spark: SparkSession, dir: String,
            bucketDocs: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    firstSeen(spark, dir)
      .groupBy(expr(s"first_doc div $bucketDocs").as("bucket"))
      .agg(count(lit(1)).as("new_shingles"))
      .select(((col("bucket") + 1) * bucketDocs).cast("long").as("docs_seen"),
        col("new_shingles"),
        sum(col("new_shingles")).over(Window.orderBy("bucket")).as("vocab"))
      .orderBy("docs_seen")
  }
}
