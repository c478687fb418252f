package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted winnowing-fingerprint index for cross-document COPY
  * DETECTION (Schleimer/Wilkerson/Aiken, SIGMOD'03) — the steady-state
  * layout behind q225's ingest gate and the streaming contamination
  * tenant. A row is one position-carrying winnow selection
  * `(id, pos, fp)` ([[TextOps.winnowRelPos]]); the relation is written
  * PARTITIONED BY an fp bucket so a probe prunes to the incoming
  * batch's fingerprint buckets BEFORE any row is read — the same
  * directory-pruning posture as [[Phrase]] postings, [[NearDup]] bands
  * and `Ivf` cells. Engine-side re-expression of the reference's
  * content-indexed serving store (documents land in an OpenSearch index
  * and are queried by content, cdk_stacks/ops.py).
  *
  * Plan shape at 100 TB:
  *   - BUILD/APPEND cost is |docs| selections (density 2/(w+1) of
  *     grams — a sub-linear sample); fingerprints are per-document, so
  *     appends never rewrite old files;
  *   - PROBE resolves the batch's bucket set first (an O(batch)
  *     aggregation returning ≤ nBuckets ints — parameter-sized, the Ivf
  *     probe-resolution rule), reads ONLY those `bucket=` directories,
  *     and joins on fp — inverted index, never all-pairs; localization
  *     spans (min/max shared window positions per side) ride the
  *     join's own (idx_id, new_id) shuffle, no second pass;
  *   - RETENTION is append-only: rows are immutable per-document facts.
  *     Re-ingesting a document appends duplicate selections — harmless
  *     to probe answers (shared = COUNT(DISTINCT fp); spans are
  *     min/max) but dead weight on disk; [[compactIndex]] rewrites a
  *     bucket-preserving deduplicated copy, and a full rebuild is just
  *     [[writeIndex]] over the current corpus (the index carries no
  *     cross-document state to lose). Document DELETION (right-to-be-
  *     forgotten) is [[forget]]: rewrite ONLY the buckets holding the
  *     victims' rows — bounded by the victims' own selection counts
  *     (≤ min(|selections|, P) buckets per doc), found by one
  *     column-pruned (id, bucket) scan. Delete-heavy deployments batch
  *     ids into one call; deleting most of an index degenerates to a
  *     full rewrite by construction.
  */
object CopyIndex {

  /** Default fan-out. Sized so a single bucket of a 100 TB corpus's
    * selection sample stays well under one task's comfortable read; a
    * deployment sizes once by |selections| / target-bucket-bytes and
    * must keep it constant for the life of a directory (the
    * [[graft.streaming.BucketedState]] pin discipline — the bucket
    * function is baked into the on-disk layout). */
  val DefaultBuckets = 64

  /** Partition bucket of a fingerprint. One copy of the bucket math —
    * writers and probers both resolve through here, so a fan-out or
    * hash change lands in every prober or none (the
    * [[Phrase.prunedPostings]] rule). */
  def bucketOf(fp: Column, nBuckets: Int): Column =
    pmod(fp, lit(nBuckets.toLong)).cast("int")

  /** Position-carrying winnow selections `(id, pos, fp)` from raw text —
    * the ONE copy of the text → selections pipeline (whitespace
    * tokenize, word trigrams, 31-ary rolling-hash fingerprints, winnow
    * at window `w`): the batch gates, the ingest twin and the streaming
    * tenant all derive selections here, so index rows and probe rows
    * can never disagree on the fingerprint function. Documents with
    * fewer than 3 tokens have no trigram and produce no rows. */
  def selections(docs: DataFrame, idCol: String, textCol: String,
                 w: Int = 4): DataFrame = {
    // ids NORMALIZE to long here — the one place the relation's schema
    // is decided — so every index file, probe side and alert row agrees
    // on (id long, pos long, fp long) whatever integral type the caller
    // holds, and the empty-relation fallbacks below can be concrete.
    // INTEGRAL ids only, checked loudly: a silent cast of a string id
    // would null every row and read as "no copies found"
    val idType = docs.schema(idCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(idType),
      s"copy-index ids must be integral (got $idCol: $idType) — a " +
        "non-integral id would cast to NULL and silently detect nothing; " +
        "fingerprint it to a long first (xxhash64)")
    val toks = docs
      .select(col(idCol).cast("long").as(idCol),
        TextOps.tokens(col(textCol)).as("w"))
      .filter(size(col("w")) >= 3)
    TextOps.winnowRelPos(toks, idCol,
      transform(TextOps.trigramsAll(col("w")), g => TextOps.fingerprint(g)),
      w)
  }

  /** The selection relation's fixed schema (with its bucket column) —
    * what [[selections]] produces and every index file holds. */
  val indexSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.IntegerType)))

  /** One-time build: persist a selection relation `(id, pos, fp)`
    * PARTITIONED BY fp bucket. OVERWRITES the path; ingest uses
    * [[appendToIndex]]. Also the REBUILD recipe: selections are pure
    * per-document functions of the text, so a lost or bloated index is
    * reproduced bit-for-bit from the corpus. */
  def writeIndex(selections: DataFrame, path: String,
                 nBuckets: Int = DefaultBuckets): Unit = {
    withBucket(selections, nBuckets)
      .write.partitionBy("bucket").mode("overwrite").parquet(path)
    writeFanout(selections.sparkSession, path, nBuckets)
  }

  /** Ingest path: append a NEW batch's selections inside the same
    * bucket layout — steady-state cost is |batch| selections; old
    * files never rewrite. Refuses a fan-out that disagrees with the
    * directory's persisted one. */
  def appendToIndex(selections: DataFrame, path: String,
                    nBuckets: Int = DefaultBuckets): Unit = {
    verifyFanout(selections.sparkSession, path, nBuckets)
    withBucket(selections, nBuckets)
      .write.partitionBy("bucket").mode("append").parquet(path)
  }

  /** The bucket fan-out is part of the ON-DISK layout (the
    * BucketedState manifest-p discipline): [[writeIndex]] persists it
    * in a `_FANOUT` marker and every append/probe verifies it, so a
    * caller whose constant drifted (e.g. after following SCALE.md's
    * P-sizing advice on an EXISTING dir) fails loudly instead of
    * silently probing buckets laid out under a different modulus —
    * which would read as "no copies found" on the contamination path. */
  private[graft] val FanoutMarker = "_FANOUT"

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Marker publish is write-temp-then-RENAME — atomic on HDFS/posix,
    * so no reader can observe a half-written marker. The residual
    * window (crash after the data commit, before the rename) leaves a
    * dir that fails [[verifyFanout]] LOUDLY until rebuilt — the right
    * failure mode for a torn one-time build (the streaming per-batch
    * writeIndex self-heals: the unacknowledged offset forces a retry
    * that overwrites the dir). */
  private def writeFanout(spark: SparkSession, path: String,
                          nBuckets: Int): Unit = {
    val (fs, root) = fsOf(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(root, s".$FanoutMarker.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"p=$nBuckets\n".getBytes("UTF-8")) finally out.close()
    val dst = new org.apache.hadoop.fs.Path(root, FanoutMarker)
    fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"could not publish $FanoutMarker at $path")
  }

  private[graft] def verifyFanout(spark: SparkSession, path: String,
                                  nBuckets: Int,
                                  requireClean: Boolean = true): Unit = {
    // every probe/append resolves through here — also the choke point
    // for the deletion fence (a torn forget() must fail loudly, not
    // serve half-forgotten answers). forget() itself passes
    // requireClean = false: it is the one caller allowed to see — and
    // heal — a marked index.
    if (requireClean)
      graft.operators.IndexForget.assertClean(spark, path)
    val (fs, root) = fsOf(spark, path)
    val m = new org.apache.hadoop.fs.Path(root, FanoutMarker)
    require(fs.exists(m),
      s"no $FanoutMarker marker under $path — not a CopyIndex layout " +
        "(or a pre-marker dir: rebuild with writeIndex)")
    val in = fs.open(m)
    val raw =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    val p = raw.stripPrefix("p=").toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"malformed $FanoutMarker under $path (content: '$raw') — " +
          "rebuild with writeIndex"))
    require(p == nBuckets,
      s"copy index at $path laid out with p=$p, caller uses $nBuckets " +
        "— probing would silently miss matches; re-bucket explicitly " +
        "(writeIndex) or fix the constant")
  }

  /** Bucket column + co-location: repartition BY the bucket before the
    * partitionBy write, or every task writes into every bucket
    * directory — tasks × buckets small files per append (the
    * BucketedState serving-merge lesson; measured 2× on q225's gate). */
  private def withBucket(selections: DataFrame, nBuckets: Int): DataFrame =
    selections.withColumn("bucket", bucketOf(col("fp"), nBuckets))
      .repartition(col("bucket"))

  /** The batch's bucket set — ≤ nBuckets ints collected from an
    * O(batch) aggregation (parameter-sized by construction; the bounded
    * collect the Ivf probe rule allows). Callers that already hold the
    * batch's selections materialized pay one cheap scan of them. */
  def bucketsOf(batchSelections: DataFrame, nBuckets: Int = DefaultBuckets)
      : Seq[Int] =
    batchSelections.select(bucketOf(col("fp"), nBuckets).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** Pruned read of a persisted index: ONLY the named buckets'
    * directories are listed and read — explicit paths + basePath (the
    * BucketedState manifest-read discipline), not a root read with a
    * partition filter, because the root read LISTS every bucket
    * directory before pruning and at P = 1024 that listing costs more
    * than the pruned data read (measured: SCALE.md, "Winnowing copy
    * detection"). The
    * `bucket IN (...)` partition filter stays on top as belt and
    * braces (and it is what the plan pin asserts). A wanted bucket
    * with no directory simply contributes nothing — an fp no corpus
    * row ever hashed to. */
  def prunedIndex(spark: SparkSession, path: String, buckets: Seq[Int],
                  nBuckets: Int = DefaultBuckets): DataFrame = {
    // the drift guard lives at THIS choke point — every pruned read,
    // including direct bucketsOf+prunedIndex callers, passes it; a
    // drifted constant fails loudly instead of pruning under the wrong
    // modulus (which reads as "no copies found")
    verifyFanout(spark, path, nBuckets)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = buckets.distinct
      .map(b => new org.apache.hadoop.fs.Path(root, s"bucket=$b"))
      .filter(fs.exists(_)).map(_.toString)
    if (dirs.isEmpty)
      // degenerate: nothing to read. The schema is the layout CONTRACT
      // ([[indexSchema]]) — re-reading the root for it would pay the
      // all-P listing this helper exists to avoid, and would crash
      // outright on a data-fileless (empty-corpus) index
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], indexSchema)
    else
      spark.read.option("basePath", path).parquet(dirs: _*)
        .filter(col("bucket").isin(buckets.distinct: _*))
  }

  /** PROBE: localized copy matches of a new batch against the persisted
    * corpus index — `(idx_id, new_id, shared, idx_lo, idx_hi, new_lo,
    * new_hi)` for pairs sharing ≥ `minShared` distinct fingerprints.
    * Reads only the batch's fingerprint buckets; the winnowing
    * guarantee (a shared run ≥ w+g−1 tokens yields ≥ 1 shared
    * selection) makes `minShared = 2` robust to single-fp noise while
    * catching every planted 12-token run (EdgeCaseSpec).
    *
    * SELF-PAIRS are filtered: when the probe batch overlaps the index
    * (the re-ingestion scenario the retention notes bless), a document
    * would otherwise trivially "copy itself" (idx_id == new_id, shared
    * = its full selection set) — noise, not contamination. A
    * re-ingested document DOES still re-match its earlier cross-doc
    * partners; consumers dedupe on (idx_id, new_id) if they need
    * report-once semantics. */
  def probe(spark: SparkSession, path: String, batchSelections: DataFrame,
            nBuckets: Int = DefaultBuckets, minShared: Int = 2): DataFrame = {
    val idx = prunedIndex(spark, path,
        bucketsOf(batchSelections, nBuckets), nBuckets)
      .select(col("id").as("idx_id"), col("pos").as("idx_pos"), col("fp"))
    val nb = batchSelections.select(col("id").as("new_id"),
      col("pos").as("new_pos"), col("fp"))
    localize(idx.join(nb, Seq("fp"))
      .filter(col("idx_id") =!= col("new_id")), "idx", "new", minShared)
  }

  /** Shared localization aggregation over a joined selection-pair
    * relation carrying (`<a>_id`, `<a>_pos`, `<b>_id`, `<b>_pos`, fp) —
    * the one copy of the span math for the one-shot gate, the ingest
    * probe and the streaming tenant. */
  private[graft] def localize(pairs: DataFrame, a: String, b: String,
                              minShared: Int): DataFrame =
    pairs.groupBy(s"${a}_id", s"${b}_id")
      .agg(countDistinct(col("fp")).as("shared"),
        min(col(s"${a}_pos")).as(s"${a}_lo"),
        max(col(s"${a}_pos")).as(s"${a}_hi"),
        min(col(s"${b}_pos")).as(s"${b}_lo"),
        max(col(s"${b}_pos")).as(s"${b}_hi"))
      .filter(col("shared") >= minShared)

  /** Right-to-be-forgotten: delete every selection row of `ids`,
    * rewriting only the buckets that hold victim rows (the
    * [[graft.operators.IndexForget]] protocol — marker-fenced,
    * crash-recoverable, idempotent). Returns the rewritten bucket
    * values. Probe answers afterward equal an index built without the
    * victims (selections are independent per-document facts — removing
    * one document's rows perturbs nothing else). */
  def forget(spark: SparkSession, path: String, ids: Seq[Long],
             nBuckets: Int = DefaultBuckets): Seq[String] = {
    verifyFanout(spark, path, nBuckets, requireClean = false)
    graft.operators.IndexForget.forget(spark, path, "bucket", "id", ids)
  }

  /** Compaction for a re-ingestion-heavy index: rewrite with exact
    * duplicate `(id, pos, fp)` rows collapsed, same bucket layout.
    * Probe answers are invariant (COUNT(DISTINCT fp) + min/max spans
    * ignore duplicates) — this reclaims disk, it never changes results.
    * O(index) rewrite; schedule it like any table maintenance, not per
    * batch. */
  def compactIndex(spark: SparkSession, path: String,
                   nBuckets: Int = DefaultBuckets): Unit = {
    verifyFanout(spark, path, nBuckets)
    // full read through the PRUNED path with every bucket named: same
    // files a root read would touch (compaction is O(index) by
    // definition), but a data-fileless index (empty-corpus build)
    // degrades to the schema-contract empty relation instead of
    // crashing schema inference
    val deduped = prunedIndex(spark, path, 0 until nBuckets, nBuckets)
      .select("id", "pos", "fp")
      .dropDuplicates("id", "pos", "fp")
      .localCheckpoint() // sever lineage from the files about to be replaced
    writeIndex(deduped, path, nBuckets)
  }
}
