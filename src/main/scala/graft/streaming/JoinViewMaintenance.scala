package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Incrementally maintained JOIN view — the sixth versioned-state tenant
  * (rollups, HLL sketches, Misra-Gries, quantile samples, dup-cluster
  * labels, now a two-relation join), and the capability the others
  * don't cover: every prior tenant maintains an AGGREGATE of one
  * stream; this maintains the enriched fact⋈dim relation itself under
  * upserts AND deletes on both sides (reference analog: the serving
  * store answers enriched queries — `README.md` S9's OpenSearch
  * documents carry joined attributes — without re-joining the lake per
  * query).
  *
  * Shape: the classic FK join. The left relation is keyed by `pk` and
  * carries a foreign key `fk`; the right relation is keyed by its own
  * `pk`, which IS the join key (unique dim key). The view V = L ⋈ R is
  * therefore keyed by the left `pk` alone — each fact row joins at most
  * one dim row — which is what makes keyed incremental maintenance
  * exact:
  *
  *   - ΔL (upsert or delete of a fact) touches exactly the view rows of
  *     its own pks.
  *   - ΔR (upsert or delete of a dim row) touches exactly the facts
  *     pointing at it: `L_state ⋈ keys(ΔR)` — the fk fan-out, found by
  *     one join against current left state, never a view rescan.
  *   - An fk UPDATE on a fact re-points it: its pk is in keys(ΔL), so
  *     its view row recomputes against the NEW dim, and the old
  *     pairing dies with the overwrite.
  *
  * Per batch: V' = (V ∖ touched) ∪ (L'|touched ⋈ R'), with L'/R' the
  * last-write-wins merges. State is KEY-PARTITIONED ([[BucketedState]],
  * round-10): every state row hash-buckets on its key (a fact's L and V
  * rows share a bucket; dims bucket on the join key), the merge runs
  * ONLY over the buckets the batch dirties (partition-pruned reads), and
  * the commit writes only those buckets — clean buckets carry forward as
  * manifest pointers, never copies. Per-trigger cost is therefore
  * O(|ΔL| + fanout(ΔR) + dirty-bucket rows), not O(state); the two
  * deliberate full-side reads that remain are (a) the fk fan-out scan of
  * L (two pruned COLUMNS — a by-fk secondary index would trade write
  * amplification for it; not worth it while dims change slowly) and
  * (b) the dim lookup for recomputed facts (R is the dim side — orders
  * smaller than L; a touched fact may point at a dim in any bucket).
  * Never a full view recompute, and never the |L|·|R| re-join.
  * JoinViewSpec pins the partition-count assertion: a batch dirtying k
  * buckets writes exactly k bucket directories.
  *
  * Payloads travel as opaque strings (caller renders JSON or concat —
  * the kernel is schema-agnostic); batches must be pre-collapsed to one
  * row per key (`Materialize.latestPerKey` discipline, like the serving
  * merge). Exactly-once under batch retry via the shared versioned
  * staging+rename commit: the fold is NOT idempotent (an anti-join
  * against torn state would drop rows), so a retried batch whose
  * version landed is a no-op. JoinViewSpec pins incremental == one-shot
  * join parity across multi-batch histories, delete propagation on both
  * sides, fk re-pointing, and the retry guard. */
object JoinViewMaintenance {

  /** Fan-out at which a fresh state dir is laid out, and the target of
    * [[compactUpdate]]'s rewrite. An existing dir folds at the p its
    * newest manifest records. Local tests keep it small so multi-bucket
    * pruning is visible; a cluster deployment sizes it like shuffle
    * partitions (state / ~128 MB). */
  val NumBuckets = 8

  /** Unified single-relation state (one atomic commit per batch):
    * rel = 'L' (k1 = pk, k2 = fk, pay1 = left payload),
    * rel = 'R' (k1 = join key, pay1 = right payload),
    * rel = 'V' (k1 = pk, k2 = fk, pay1 = left, pay2 = right).
    * Every row buckets on k1. */
  private[graft] val stateSchema = StructType(Seq(
    StructField("rel", StringType), StructField("k1", StringType),
    StructField("k2", StringType), StructField("pay1", StringType),
    StructField("pay2", StringType),
    StructField(BucketedState.BucketCol, IntegerType)))

  private def asL(df: DataFrame): DataFrame =
    df.select(lit("L").as("rel"), col("pk").cast("string").as("k1"),
      col("fk").cast("string").as("k2"), col("payload").as("pay1"),
      lit(null).cast("string").as("pay2"))

  private def asR(df: DataFrame): DataFrame =
    df.select(lit("R").as("rel"), col("pk").cast("string").as("k1"),
      lit(null).cast("string").as("k2"), col("payload").as("pay1"),
      lit(null).cast("string").as("pay2"))

  /** Last-write-wins merge of one keyed side: batch rows overwrite state
    * rows with the same key; `op = 'delete'` rows tombstone out. */
  private def lww(state: DataFrame, batch: DataFrame,
                  toState: DataFrame => DataFrame): DataFrame = {
    val keys = batch.select(col("pk").cast("string").as("bk")).distinct()
    val s = state.drop(BucketedState.BucketCol)
    s.join(keys, s("k1") === keys("bk"), "left_anti")
      .unionByName(toState(batch.filter(col("op") =!= "delete")))
  }

  /** Fold one micro-batch into the join-view state at `dir`.
    *
    * `batchL(pk, fk, payload, op)`; `batchR(pk, payload, op)` where the
    * right `pk` is the join key; `op` ∈ {upsert, delete}; one row per
    * key per batch (pre-collapsed). Either side may be empty but must
    * carry its schema. */
  def update(dir: String, batchL: DataFrame, batchR: DataFrame,
             batchId: Long): Unit = {
    val spark = batchL.sparkSession
    // shared prelude: layout check BEFORE the version fence, then the
    // retry short-circuit (one copy of the ordering contract)
    val (p, manifest) = BucketedState.resolveForFold(spark, dir, batchId,
      NumBuckets, stateSchema, "join view") match {
      case Some(pm) => pm
      case None     => return
    }
    def readRel(rel: String, buckets: Option[Set[Int]]): DataFrame =
      BucketedState.read(spark, dir, stateSchema, manifest, buckets)
        .filter(col("rel") === rel)
    def bucketsOf(keys: DataFrame): Set[Int] =
      keys.select(BucketedState.bucketOf(col("bk"), p).as("b")).distinct()
        .collect().map(_.getInt(0)).toSet

    // touched view keys: every fact key in ΔL, plus every CURRENT fact
    // pointing at a dim key in ΔR (fan-out via one join on fk over the
    // two-column projection of L — the one deliberate full-side read)
    val rKeys = batchR.select(col("pk").cast("string").as("rk")).distinct()
    val lKeys = batchL.select(col("pk").cast("string").as("bk")).distinct()
    val viaR = readRel("L", None).select(col("k1"), col("k2"))
      .join(rKeys, col("k2") === rKeys("rk"))
      .select(col("k1").as("bk"))
    val touched = lKeys.unionByName(viaR).distinct()
      .localCheckpoint() // feeds the dirty set, the anti-join, the rejoin

    // dirty buckets: facts/view rows bucket on the touched fact keys;
    // dim rows bucket on the ΔR keys
    val dirty = bucketsOf(touched) ++ bucketsOf(rKeys.select(col("rk").as("bk")))

    // merges over DIRTY buckets only (partition-pruned state reads);
    // batch rows land in dirty buckets by construction
    val newLDirty = lww(readRel("L", Some(dirty)), batchL, asL)
    val newRDirty = lww(readRel("R", Some(dirty)), batchR, asR)
    // the post-batch dim side for the rejoin: clean buckets unchanged
    val cleanR = readRel("R", None)
      .filter(if (dirty.isEmpty) lit(true)
        else !col(BucketedState.BucketCol).isin(dirty.toSeq: _*))
      .drop(BucketedState.BucketCol)
    val newRFull = cleanR.unionByName(newRDirty)
    val vKeep = readRel("V", Some(dirty))
      .drop(BucketedState.BucketCol)
      .join(touched, col("k1") === touched("bk"), "left_anti")
    val vNew = newLDirty
      .join(touched, col("k1") === touched("bk"))
      .select(col("k1"), col("k2"), col("pay1").as("lp"))
      .join(newRFull.select(col("k1").as("rk"), col("pay1").as("rp")),
        col("k2") === col("rk"))
      .select(lit("V").as("rel"), col("k1"), col("k2"),
        col("lp").as("pay1"), col("rp").as("pay2"))
    val sel = (df: DataFrame) => df.select(
      (Seq(col("rel"), col("k1"), col("k2"), col("pay1"), col("pay2")) :+
        BucketedState.bucketOf(col("k1"), p)
          .as(BucketedState.BucketCol)): _*)
    BucketedState.commit(
      sel(newLDirty).unionByName(sel(newRDirty))
        .unionByName(sel(vKeep.select(col("rel"), col("k1"), col("k2"),
          col("pay1"), col("pay2"))))
        .unionByName(sel(vNew)),
      dir, batchId, p, dirty, manifest)
  }

  /** [[update]]'s COMPACTING form: fold the batch into the FULL state
    * and republish every bucket at this batch's id, laid out at
    * [[NumBuckets]]. The view relation is REBUILT wholesale from the
    * merged sides (V is a pure function of L and R, and a compaction is
    * an O(state) rewrite by definition — recomputing it here keeps zero
    * incremental bookkeeping on the slow path). */
  def compactUpdate(dir: String, batchL: DataFrame, batchR: DataFrame,
                    batchId: Long): Unit =
    BucketedState.foldCompact(batchL.sparkSession, dir, batchId,
      NumBuckets, stateSchema, "k1", "join view") { prev =>
      val newL = lww(prev.filter(col("rel") === "L"), batchL, asL)
      val newR = lww(prev.filter(col("rel") === "R"), batchR, asR)
      val newV = newL.select(col("k1"), col("k2"), col("pay1").as("lp"))
        .join(newR.select(col("k1").as("rk"), col("pay1").as("rp")),
          col("k2") === col("rk"))
        .select(lit("V").as("rel"), col("k1"), col("k2"),
          col("lp").as("pay1"), col("rp").as("pay2"))
      newL.unionByName(newR).unionByName(newV)
    }

  /** Newest committed view `(pk, fk, left_payload, right_payload)`. */
  def view(spark: SparkSession, dir: String): DataFrame =
    BucketedState.readState(spark, dir, stateSchema, "join view")
      .filter(col("rel") === "V")
      .select(col("k1").as("pk"), col("k2").as("fk"),
        col("pay1").as("left_payload"), col("pay2").as("right_payload"))

  /** Current left/right side snapshots (for parity checks and reseeds). */
  def sides(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val st = BucketedState.readState(spark, dir, stateSchema, "join view")
    (st.filter(col("rel") === "L")
      .select(col("k1").as("pk"), col("k2").as("fk"),
        col("pay1").as("payload")),
      st.filter(col("rel") === "R")
        .select(col("k1").as("fk"), col("pay1").as("payload")))
  }
}
