package graft.streaming

import graft.cdc.{Bootstrap, Envelope}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}

/** The reference pipeline's streaming spine re-expressed as one Structured
  * Streaming query (SURVEY.md §3.1-3.2, S7-S12):
  *
  *   source (ordered replayable log)           → readStream (file/memory)
  *   DMS envelope parse (S4)                   → from_json, fixed schema
  *   selection rule (S3)                       → filter on metadata
  *   per-key ordering + idempotent delivery    → watermark + streaming dedup
  *     (S5/S9; Kinesis seq-number `_id`,          on (trans_id, txid)
  *      reference README.md:455-457)             (dropDuplicatesWithinWatermark)
  *   micro-batch trigger (S8: 1 MiB / 60 s,    → Trigger.ProcessingTime /
  *      reference firehose.py:122-125,139-142)   AvailableNow for replay
  *   dual sink (S9 OpenSearch + S10 S3 archive,→ foreachBatch: last-write-wins
  *      firehose.py:117-136,153)                 serving merge + UTC
  *                                               time-partitioned archive
  *   error/DLQ routing (S11, firehose.py:134,  → unparseable lines appended
  *      150-152)                                 under error/
  *
  * Scale notes: every stateful op is watermark-bounded (state cannot grow
  * past the lateness horizon — the Kinesis 24 h retention analog, kds.py:24);
  * the serving merge shuffles once, on the bucket of the primary key
  * (the reference's partition-key exchange, S5); the archive append is
  * partition-local.
  */
object CdcStreamPipeline {

  final case class Sinks(serving: String, archive: String, error: String,
                         checkpoint: String)

  /** Firehose index-rotation periods (reference firehose.py:149:
    * `index_rotation_period`, options NoRotation | OneHour | OneDay |
    * OneWeek | OneMonth) as the archive sink's partition-derivation knob.
    * `NoRotation` keeps the reference's DEPLOYED layout — Firehose's
    * automatic hourly `YYYY/MM/dd/HH/` prefix (firehose.py:132-133) as
    * year/month/day/hour partition columns; each rotated period derives
    * ONE `rotation` partition key instead (the analog of the rotated
    * index-name suffix), so a reader's period filter prunes directories
    * the same way the hour filter does today. */
  sealed trait Rotation {
    /** The rotation partition key for an event-time column; None = the
      * hourly four-column layout. */
    private[streaming] def key(ts: Column): Option[Column]
  }
  object Rotation {
    case object NoRotation extends Rotation {
      def key(ts: Column): Option[Column] = None
    }
    case object OneHour extends Rotation {
      def key(ts: Column): Option[Column] =
        Some(date_format(ts, "yyyy-MM-dd-HH"))
    }
    case object OneDay extends Rotation {
      def key(ts: Column): Option[Column] =
        Some(date_format(ts, "yyyy-MM-dd"))
    }
    case object OneWeek extends Rotation {
      // the week's Monday (date_trunc week) — a prunable calendar key
      // without week-of-year pattern ambiguity
      def key(ts: Column): Option[Column] =
        Some(date_format(date_trunc("week", ts), "yyyy-MM-dd"))
    }
    case object OneMonth extends Rotation {
      def key(ts: Column): Option[Column] =
        Some(date_format(ts, "yyyy-MM"))
    }
  }

  /** Stateless front of the stream: the shared envelope parse
    * (Envelope.parseLines) + event time. Keeps the raw line for DLQ
    * routing of unparseable records. `try_to_timestamp`, not
    * `to_timestamp`: under Spark's default ANSI mode the latter THROWS on
    * a malformed timestamp string — one poisoned line would crash-loop
    * the whole stream from its checkpoint; try_ yields null, which the
    * routing below sends to the DLQ. */
  def parseLines(lines: DataFrame): DataFrame =
    Envelope.parseLines(lines)
      .withColumn("event_ts", try_to_timestamp(col("metadata.timestamp")))

  /** Full pipeline over a streaming DataFrame of raw envelope lines.
    * Returns (main query, DLQ query). `lateness` bounds both dedup state
    * and late-data acceptance (O32/O33). `rules` is the DMS selection
    * rule list (S3) — a wildcard include fans N tables into the one
    * stream; every keyed stage below (dedup, serving merge) keys on
    * (schema, table, pk) so shards with colliding pk ranges can never
    * collapse into each other.
    *
    * The DLQ runs as its own un-watermarked query: unparseable lines carry
    * no event time, so routing them through the watermarked dedup would
    * silently drop them as late data. */
  def start(lines: DataFrame, sinks: Sinks, trigger: Trigger,
            lateness: String = "1 hour",
            rules: Seq[Envelope.SelectionRule] = Envelope.defaultRules,
            rotation: Rotation = Rotation.NoRotation)
      : (StreamingQuery, StreamingQuery) = {
    // fail an invalid rule set HERE, not inside foreachBatch at batch 0 —
    // a misconfiguration must abort start(), never a running query
    Envelope.selection(rules)
    val parsed = parseLines(lines)

    // Dedup key = (pk, transaction-id, event time) — the reference's `_id`
    // idempotence under Firehose redelivery (S9, reference
    // README.md:455-457). The timestamp component matters: one source
    // transaction can change the same row twice (same pk AND same txid,
    // different timestamps) — a (pk, txid) key would swallow the second
    // change as a "redelivery"; true redeliveries carry identical
    // timestamps and still dedup.
    // ACCEPTED LIMITATION: two DISTINCT changes to the same row stamped
    // with the identical (pk, txid, µs timestamp) collapse to one — the
    // envelope carries no per-record sequence number to tell them apart
    // (the Kinesis sequence number is transport metadata the DMS JSON
    // never includes), and any synthetic ordinal (file offset, batch-local
    // row number) differs between original and redelivery, which would
    // break redelivery dedup — the more common event. The batch
    // materializer has the same blind spot (its (timestamp, txid) ordering
    // cannot rank the pair), so stream and batch agree. StreamingSpec
    // pins this collapse explicitly.
    // The two filters are exactly complementary (Envelope.corrupt is
    // never-NULL by construction; the event_ts guard catches timestamp
    // strings present but unparseable): every input line reaches exactly
    // one of the two queries.
    // Dedup key includes (schema, table): one source transaction touches
    // rows of SEVERAL tables under the same txid, so a table-blind key
    // would swallow a sibling table's change as a redelivery.
    val main = parsed
      .filter(!Envelope.corrupt && col("event_ts").isNotNull)
      // selection BEFORE the watermark/dedup: the rules are per-row and
      // stateless, and an unselected record reaches neither sink — so
      // letting it through would only occupy dedup state and the
      // stateful shuffle for the full lateness horizon for zero benefit
      // (a fan-in where the selected table is a small traffic fraction
      // would otherwise inflate state by the unselected majority).
      // sinkBatch keeps its own (idempotent) filter for direct callers.
      .filter(Envelope.selection(rules))
      .withColumn("sch", col("metadata.`schema-name`"))
      .withColumn("tbl", col("metadata.`table-name`"))
      .withColumn("pk", col(s"data.`$ServingPkCol`"))
      .withColumn("txid", col("metadata.`transaction-id`"))
      .withWatermark("event_ts", lateness)
      .dropDuplicatesWithinWatermark("sch", "tbl", "pk", "txid", "event_ts")
      .drop("sch", "tbl", "pk", "txid")
      .writeStream
      .foreachBatch(sinkBatch(sinks, rules, rotation) _)
      .trigger(trigger)
      .option("checkpointLocation", sinks.checkpoint).start()

    val dlq = parsed
      .filter(Envelope.corrupt || col("event_ts").isNull)
      .select(col("value"))
      .writeStream.foreachBatch(writeErrors(sinks.error) _)
      .trigger(trigger)
      .option("checkpointLocation", sinks.checkpoint + "_dlq").start()

    (main, dlq)
  }

  /** The DLQ sink of one batch: its lines land in
    * `<errorRoot>/batch_id=<batchId>` by overwrite, so a retried batch
    * replaces its own output instead of appending twice. A batch without
    * a corrupt line leaves no directory: the written dir is dropped when
    * none of its data files holds a byte (a text line always does), which
    * costs one listing and no second pass over the batch. */
  private[streaming] def writeErrors(errorRoot: String)(bad: DataFrame,
                                                        batchId: Long): Unit = {
    val out = new org.apache.hadoop.fs.Path(s"$errorRoot/batch_id=$batchId")
    bad.write.mode("overwrite").text(out.toString)
    val fs = out.getFileSystem(bad.sparkSession.sparkContext.hadoopConfiguration)
    val empty = fs.listStatus(out).forall { f =>
      val n = f.getPath.getName
      n.startsWith("_") || n.startsWith(".") || f.getLen == 0
    }
    if (empty) fs.delete(out, true): Unit
  }

  /** S1 `full-load-and-cdc` (reference dms_aurora_mysql_to_kinesis.py:145):
    * seed the serving state from a one-time snapshot, then [[start]] the
    * CDC stream against the SAME sinks. The seed commits as version v=-1 —
    * below every micro-batch id — via the same staging→rename protocol as
    * the stream's merges, so batch 0 finds it as ordinary prior state and
    * the retry fence (committed(v=0)) is never confused by the seed.
    *
    * Boundary safety lives entirely in the seed's envelope stamp (see
    * [[graft.cdc.Bootstrap]]): the stream may replay records from at or
    * before loadTs and the last-write-wins merge suppresses them against
    * the seed; records after loadTs win. Caller contract: `snapshot` is
    * the consistent source image at `loadTs`, and the stream replays a
    * prefix-complete log from some point ≤ loadTs (a log with holes below
    * the cut could resurrect a key whose delete fell in the hole — the
    * same contract DMS itself places on the binlog position). */
  def bootstrap(snapshot: DataFrame, loadTs: String, sinks: Sinks,
                schemaName: String = "testdb",
                tableName: String = "retail_trans"): Unit =
    bootstrapEnvelope(
      Bootstrap.asLoadEnvelope(snapshot, loadTs, schemaName, tableName),
      sinks)

  /** Bucket fan-out at which writers lay out a FRESH serving dir. An
    * existing dir keeps the p its manifest records until a binary whose
    * constant exceeds it folds into it; that fold re-buckets the whole
    * state at the constant ([[foldServing]], grow-only). Readers never
    * name it: they resolve p from the manifest. Sized for the
    * fixture/test scale — a production deployment sizes by key
    * cardinality (≈ state-rows / target-bucket-rows) and raises it by a
    * deploy as the view grows. */
  val ServingBuckets = 16

  /** The serving tenant's on-disk schema: envelope row + the 64-bit
    * serving key. `k` fingerprints (schema, table, pk) — the LWW key —
    * into one bucketable column (the SimJoin fingerprint discipline;
    * P[collision] ≈ keys²/2^65, immaterial, and a collision only
    * CO-BUCKETS two keys, it cannot corrupt the per-key merge, which
    * partitions on the real composite). */
  private val servingSchema = StructType(Seq(
    StructField("k", LongType),
    StructField("data", Envelope.dataSchema),
    StructField("metadata", Envelope.metadataSchema),
    StructField(BucketedState.BucketCol, IntegerType)))

  /** The serving key's pk COLUMN within `data.*` — a DEPLOYMENT
    * constant, not a per-call choice: k = xxhash64(schema, table, pk)
    * is PERSISTED in every state row, so this name is baked into a
    * serving dir for its whole life (changing it is a reseed,
    * never a config flip). Every table of a wildcard stream shares the
    * envelope row shape ([[Envelope.dataSchema]] — the reference's
    * retail_trans DDL, README.md), so one column name serves the whole
    * fan-in; the write path, the stream dedup key and every lookup
    * resolve through THIS constant. */
  val ServingPkCol = "trans_id"

  /** ONE copy of the serving-key fingerprint expression — the write
    * path ([[withServingKey]]) and the lookups both resolve through
    * here, so a lookup's driver-side key can never drift from what the
    * merge persisted (round-12 ADVICE: the old lookup re-built the hash
    * from hand-assembled Literals with its own seed constant). */
  private def servingKeyExpr(sch: Column, tbl: Column, pk: Column): Column =
    xxhash64(sch, tbl, pk)


  /** Envelope rows → serving-state rows (key column prepended). */
  private def withServingKey(env: DataFrame): DataFrame =
    env.select(
      servingKeyExpr(col("metadata.`schema-name`"),
        col("metadata.`table-name`"), col(s"data.`$ServingPkCol`")).as("k"),
      col("data"), col("metadata"))

  /** Multi-table form of [[bootstrap]]: the seed is an already
    * envelope-wrapped union — one [[graft.cdc.Bootstrap.asLoadEnvelope]]
    * per fanned-out table, each stamped with its own (loadTs, schema,
    * table) — so a wildcard-selected stream can cut over every shard in
    * one seeded state. The seed is the serving fold ([[foldServing]])
    * into the empty dir at version -1, so EVERY bucket is owned by the
    * seed and batch 0 resolves it as ordinary prior state. The fold's
    * latestPerKey also tolerates duplicate-PK snapshots (identical
    * stamps — an arbitrary survivor is the only coherent answer). */
  def bootstrapEnvelope(seedEnv: DataFrame, sinks: Sinks): Unit = {
    require(
      BucketedState.latestManifest(seedEnv.sparkSession, sinks.serving).isEmpty,
      s"bootstrap requires an empty serving state under ${sinks.serving}; " +
        "it seeds v=-1 BELOW every stream version and must run before the stream")
    foldServing(seedEnv, sinks.serving, -1L, ServingBuckets)
  }

  /** DISASTER RECOVERY: rebuild the serving state from the ARCHIVE —
    * the payoff of the dual-sink design (reference: the S3 archive
    * exists precisely so OpenSearch is rebuildable,
    * firehose.py/README.md "backup" posture). The archive holds every
    * selected post-dedup envelope the STREAM processed, so
    * `latestPerKey` over it (∪ the original seed, below) IS the serving
    * state; the rebuild commits through the bootstrap protocol (v=-1,
    * below every stream version). Caller wipes the lost/corrupt serving
    * dir first (bootstrap refuses a non-empty one).
    *
    * PRECONDITIONS — both matter, both are about what the archive does
    * NOT contain:
    *  1. A deployment that BOOTSTRAPPED (S1 full-load) must pass the
    *     same seed envelope again via `seedEnv`: the bootstrap wrote
    *     the seed to the serving sink only, never to the archive, so an
    *     archive-only rebuild would silently drop every key the CDC
    *     stream never touched. The LWW stamps resolve the seed-vs-log
    *     boundary here exactly as they did live.
    *  2. This helper assumes the CHECKPOINT survived. If the checkpoint
    *     was lost too, restart the stream against a FRESH archive
    *     prefix (and union prefixes on read/rebuild): engine batch ids
    *     restart at 0 and the per-batch overwrite that makes retries
    *     exactly-once would otherwise replace archived history — the
    *     system of record for the NEXT disaster.
    *
    * Safe against checkpoint REPLAY: a restarted stream may redeliver
    * batches whose rows are already in the rebuilt state — the serving
    * merge is LWW-idempotent, so refolds are no-ops (this DR path is
    * sound for THIS tenant; a SUM-folded tenant cannot rebuild this
    * way). Works over compacted archives too — partition discovery
    * reads folded and per-batch dirs alike. */
  def rebuildServingFromArchive(spark: SparkSession, sinks: Sinks,
      seedEnv: Option[DataFrame] = None): Unit = {
    val archived =
      spark.read.parquet(sinks.archive).select(col("data"), col("metadata"))
    bootstrapEnvelope(
      seedEnv.map(se => archived.unionByName(
        se.select(col("data"), col("metadata")))).getOrElse(archived),
      sinks)
  }

  /** Batch merge applied by foreachBatch: archive append, and the
    * last-write-wins serving fold ([[foldServing]]) that RETAINS delete
    * tombstones in the persisted state; the serving read path filters
    * tombstones out. */
  def sinkBatch(sinks: Sinks,
                rules: Seq[Envelope.SelectionRule] = Envelope.defaultRules,
                rotation: Rotation = Rotation.NoRotation)
               (batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try {
      val good = batch.filter(Envelope.selection(rules))

      // S10: UTC time-partitioned archive (firehose.py:131-135 prefix).
      // Under a multi-table rule set the archive stays time-partitioned
      // (all tables in one timeline, like the reference's single Firehose
      // prefix); a per-table reader filters on metadata.`table-name`
      // post-scan. Fan-outs with heavy per-table readers should add the
      // table to partitionBy — coordinate with ArchiveCompaction's
      // directory layout before changing it.
      // The write targets a batch-scoped subdirectory with overwrite, so a
      // RETRIED micro-batch (task failure after a partial write) replaces
      // its own output instead of double-appending — exactly-once archive
      // contents under at-least-once batch execution. Partition discovery
      // on read surfaces batch_id as one more partition column; hour
      // pruning still pushes (StreamingSpec asserts it). Long-running
      // streams accumulate one batch_id dir per trigger — a periodic
      // compaction job (rewrite batch dirs older than the retention point
      // into plain hour partitions) bounds file-listing cost; at the
      // reference's 60 s trigger that is a daily ~1440-dir sweep.
      // Schema drift rides along as a side column (S11's softer sibling):
      // a renamed/added source field is invisible to the fixed from_json
      // schema, so the archive records WHICH unknown fields each line
      // carried (empty array = none) — surfaced for Envelope.driftStats
      // monitoring instead of silently dropped with the raw line.
      val archived = Envelope.withDrift(good)
      // Partition derivation is the `rotation` knob (firehose.py:149):
      // NoRotation = the deployed hourly prefix; a rotated period derives
      // one calendar key. ArchiveCompaction's directory folding assumes
      // the NoRotation layout — rotated archives compact per rotation dir.
      (rotation.key(col("event_ts")) match {
        case None =>
          archived.withColumn("year", date_format(col("event_ts"), "yyyy"))
            .withColumn("month", date_format(col("event_ts"), "MM"))
            .withColumn("day", date_format(col("event_ts"), "dd"))
            .withColumn("hour", date_format(col("event_ts"), "HH"))
            .drop("value")
            .write.partitionBy("year", "month", "day", "hour")
        case Some(k) =>
          archived.withColumn("rotation", k).drop("value")
            .write.partitionBy("rotation")
      }).mode("overwrite").parquet(s"${sinks.archive}/batch_id=$batchId")

      // S9: serving state merge, idempotent under redelivery (a pure
      // last-write-wins reduction over the old state and the batch)
      foldServing(good, sinks.serving, batchId, ServingBuckets)
    } finally batch.unpersist()
  }

  /** The serving tenant's ONE write — the seed, every stream merge and
    * a fan-out grow: fold `envelopes` into the serving state under `dir`
    * by last-write-wins and publish version `versionId` laid out at
    * fan-out `targetP`. Tombstones are retained rows, so a stale update
    * replayed later cannot resurrect a deleted key.
    *
    * While `targetP` equals the on-disk p, a fold reads and republishes
    * only the buckets its keys hash to; every other bucket carries
    * forward as a manifest pointer. LWW is key-local (a key's winner
    * lives in its own bucket, and a deleted key keeps a tombstone row),
    * so those candidate buckets are exactly the dirty set and no
    * post-fold diff is needed — a replayed candidate bucket republishes
    * byte-identical. An empty dir owns every bucket, so its first fold
    * skips the candidate job.
    *
    * GROW: a `targetP` above the on-disk p folds into the FULL state
    * and re-homes every row at `targetP`, all at this version (the
    * foldCompact discipline: the id stays the caller's, a retried grow
    * fences on its own committed version). A `targetP` below it is
    * refused ([[BucketedState.requireGrow]]). A wrong dir still fails
    * loudly on the layout check or on the schema guard (the envelope
    * struct paths are this tenant's signature). */
  private[graft] def foldServing(envelopes: DataFrame, dir: String,
      versionId: Long, targetP: Int): Unit = {
    val spark = envelopes.sparkSession
    BucketedState.resolveForFold(spark, dir, versionId, targetP,
      servingSchema, "serving view", BucketedState.requireGrow(dir,
        targetP, "serving view")).foreach { case (p, manifest) =>
      val incoming =
        withServingKey(envelopes.select(col("data"), col("metadata")))
      val rewriteAll = manifest.isEmpty || targetP > p
      // one tiny job off the batch: |distinct batch buckets| ≤ p ints
      val candidates =
        if (rewriteAll) (0 until targetP).toSet
        else incoming
          .select(BucketedState.bucketOf(col("k"), p).as("b")).distinct()
          .collect().map(_.getInt(0)).toSet
      val prev = BucketedState.read(spark, dir, servingSchema, manifest,
          if (rewriteAll) None else Some(candidates))
        .drop(BucketedState.BucketCol)
      // read → merge → write run as ONE plan with ONE shuffle (no
      // checkpoint barriers: `incoming` recomputes from its source,
      // `prev` from committed parquet). The repartition on the bucket
      // feeds both the LWW window and the partitioned write, so each
      // bucket is one task's one file.
      val merged = latestPerKey(prev.unionByName(incoming)
        .withColumn(BucketedState.BucketCol,
          BucketedState.bucketOf(col("k"), targetP))
        .repartition(col(BucketedState.BucketCol)))
      // on a grow the candidates cover every old bucket too, so no
      // pointer of the prior manifest survives the commit
      BucketedState.commit(merged, dir, versionId, targetP, candidates,
        manifest)
    }
  }

  /** Last write per key including tombstones — the persisted serving
    * state. Keyed on (schema, table, pk): single-table streams see
    * identical behavior (constant prefix), multi-table streams with
    * colliding pk ranges stay apart. The window also partitions on the
    * serving rows' bucket, a function of that key (so the winners are
    * the same), which lets it run within the fold's repartition by
    * bucket instead of shuffling again. */
  private def latestPerKey(rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(BucketedState.BucketCol),
        col("metadata.`schema-name`"), col("metadata.`table-name`"),
        col(s"data.`$ServingPkCol`"))
      .orderBy(col("metadata.timestamp").desc,
        col("metadata.`transaction-id`").desc)
    rows.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Full persisted serving state (tombstones included): every bucket
    * of the newest manifest, at whatever p it records. */
  private def servingState(spark: SparkSession,
      servingDir: String): DataFrame =
    BucketedState.readState(spark, servingDir, servingSchema, "serving view")

  /** POINT LOOKUP against the serving state — single-key form of
    * [[servingLookupBatch]]; returns the live row (0 or 1 rows,
    * `data.*`) as a local relation; a tombstoned key reads as absent. */
  def servingLookup(spark: SparkSession, servingDir: String,
      schemaName: String, tableName: String, pk: Long): DataFrame =
    servingLookupBatch(spark, servingDir, Seq((schemaName, tableName, pk)))
      .drop("sch", "tbl", "pk")

  /** BATCHED, MULTI-TABLE point lookup, answered on the driver with no
    * Spark job (reference §3.3: the serving store answers interactive
    * key queries). For a set of (schema, table, pk) keys it resolves the
    * manifest ONCE behind the schema guard, hashes every key to its
    * bucket under the RESOLVED fan-out, and opens only those buckets'
    * files in the versions that own them
    * ([[BucketedState.readLocal]]) — one resolution and
    * O(|touched buckets| · state/p) I/O per call. Returns one
    * `(sch, tbl, pk, data.*)` row per LIVE key as a local relation, so
    * collecting it runs no job; tombstoned and absent keys are simply
    * absent; a wrong, schema-drifted or over-pruned dir fails loudly,
    * never as "key absent".
    *
    * Buckets come from the WRITE PATH's own expressions
    * ([[servingKeyExpr]] / [[BucketedState.bucketOf]]) in one
    * projection over the parameter-sized key relation, which the
    * optimizer folds into a local relation — no job, and no
    * re-implemented hash to drift. They derive from the on-disk p, so
    * lookups answer before and after a grow alike. A row answers a key
    * only on an exact (schema, table, pk) match with a non-null pk: a
    * fingerprint collision can only co-bucket keys, never confuse
    * them. */
  def servingLookupBatch(spark: SparkSession, servingDir: String,
      keys: Seq[(String, String, Long)]): DataFrame = {
    require(keys.nonEmpty, "servingLookupBatch needs at least one key")
    val (p, manifest) = BucketedState.resolve(spark, servingDir,
      servingSchema, "serving view")
    val buckets = spark.createDataFrame(keys.distinct)
      .select(BucketedState.bucketOf(
        servingKeyExpr(col("_1"), col("_2"), col("_3")), p))
      .collect().map(_.getInt(0)).toSet
    val wanted = keys.toSet
    val pks = keys.map(_._3).toSet
    val dataType = servingSchema("data").dataType.asInstanceOf[StructType]
    val metaType = servingSchema("metadata").dataType.asInstanceOf[StructType]
    val Seq(dataAt, metaStructAt) =
      Seq("data", "metadata").map(servingSchema.fieldIndex)
    val pkAt = dataType.fieldIndex(ServingPkCol)
    val metaAt = Seq("schema-name", "table-name", "operation")
      .map(metaType.fieldIndex)
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(dataType)
    // a null pk, schema, table or operation never answers (getLong
    // would read a null pk as 0)
    val rows = BucketedState.readLocal(spark, servingDir, servingSchema,
        manifest, buckets) { r =>
      val data =
        if (r.isNullAt(dataAt)) null else r.getStruct(dataAt, dataType.size)
      val meta = if (r.isNullAt(metaStructAt)) null
        else r.getStruct(metaStructAt, metaType.size)
      if (data == null || meta == null || data.isNullAt(pkAt) ||
          !pks(data.getLong(pkAt)) || metaAt.exists(meta.isNullAt)) None
      else {
        val Seq(sch, tbl, op) = metaAt.map(meta.getUTF8String(_).toString)
        val pk = data.getLong(pkAt)
        if (op == "delete" || !wanted((sch, tbl, pk))) None
        else Some(Row.fromSeq(
          Seq(sch, tbl, pk) ++ toRow(data).asInstanceOf[Row].toSeq))
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("sch", StringType),
        StructField("tbl", StringType),
        StructField("pk", LongType, nullable = false)) ++ dataType.fields))
  }

  /** The user-facing serving view: live rows only (tombstones hidden).
    * Resolves the newest COMMITTED manifest; concurrent merges create
    * new versions rather than touching resolved ones, and a resolved
    * version survives for the manifest retention horizon — a reader
    * must consume its DataFrame within that many triggers. */
  def servingSnapshot(spark: SparkSession, servingDir: String): DataFrame =
    servingState(spark, servingDir)
      .filter(col("metadata.operation") =!= "delete")
      .select(col("data.*"))

  /** Multi-table serving view for a wildcard-selected stream: live rows
    * of EVERY table with their (schema, table) identity — the fan-out
    * counterpart of [[servingSnapshot]], same columns as the batch
    * [[graft.cdc.Materialize.snapshotByTable]]. */
  def servingTables(spark: SparkSession, servingDir: String): DataFrame =
    servingState(spark, servingDir)
      .filter(col("metadata.operation") =!= "delete")
      .select(col("metadata.`schema-name`").as("sch"),
        col("metadata.`table-name`").as("tbl"), col("data.*"))
}
