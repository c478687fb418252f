package graft.streaming

import graft.text.{NearDup, TextOps}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming document ingest — the corpus-side analog of the CDC spine
  * (north star: a training-data pipeline ingests documents continuously,
  * not just row changes). Same skeleton as CdcStreamPipeline (parse →
  * route → watermark → dedup → exactly-once batch-scoped sink), different
  * semantics at each stage:
  *
  *   - dedup keys on CONTENT (md5 digest), not row identity: the same text
  *     arriving twice — redelivery OR a mirror/crawl duplicate — keeps one
  *     copy. Identity dedup is the CDC pipeline's job; corpora dedup by
  *     what the model would see. State is watermark-bounded; cross-horizon
  *     duplicates are the batch dedup pass's job (q35/q64 over the corpus).
  *   - a QUALITY gate (token count band) sits between parse and dedup —
  *     rejected docs are data, not errors: they land in an auditable
  *     rejects sink, separate from the unparseable-line DLQ.
  *   - the accepted sink partitions by the deterministic hash SPLIT
  *     (q63's first-hex-char-of-md5 rule), so train/val/test assignment
  *     happens once at ingest and downstream readers partition-prune to
  *     their split.
  *
  * Scale: every stage before the sink is map-only except the dedup
  * (one shuffle on the uniformly distributed digest — no skew) and the
  * watermark state is bounded by the lateness horizon. The sink writes
  * batch-scoped overwrite dirs: exactly-once contents under at-least-once
  * micro-batch retries, compactable by ArchiveCompaction like the CDC
  * archive.
  *
  * RETENTION — the near-dup signature index self-consolidates on the
  * shared [[FoldProtocol]] (the CopyDetectMaintenance cadence): batch
  * N's trigger folds the committed `batch_id=` tail into ONE
  * `consol_id=H` dir once it exceeds `consolidateAfter`, so the probe's
  * per-trigger listing is bounded by the threshold, not the stream's
  * age — without it the index read listed EVERY dir ever committed,
  * O(triggers) metadata per trigger. The corpus and rejects sinks
  * accrete `batch_id=` dirs too; they have no per-trigger read path,
  * so their bound is `compactAfter` (0 = off): when set, each trigger
  * retains that many newest batch dirs per sink and folds the rest
  * into one (ArchiveCompaction — split pruning and exactly-once retry
  * survive it, DocIngestSpec pins both); when off, compaction stays an
  * operator action, same as the CDC archive. The DLQ is excluded
  * either way — its retention is time-based whole-dir expiry.
  *
  * FORGET — [[forget]] deletes a document's whole per-tenant footprint:
  * corpus rows (split-partition rewrites per batch dir), audit rows in
  * the rejects and near-dup-rejects sinks, and its signature rows in
  * every committed index dir, under a composition fence per root.
  * DLQ retention stance: the error sink is a RAW-TEXT quarantine of
  * lines that never became documents. Some carry no extractable
  * identity at all (non-JSON garbage); some parse but failed another
  * required field and DO carry a doc_id. Engine-owned id-keyed forget
  * still stops at the relational sinks: the DLQ is pre-schema by
  * design (its value is the exact bytes that failed), so its bound is
  * time-based whole-dir expiry — and an operator who must delete an
  * id from it filters the raw text directly
  * (`spark.read.text(dir).filter(get_json_object(value,
  * "$.doc_id") =!= id)` → overwrite), a one-liner that needs none of
  * the fence machinery because the DLQ has no probe path to race. */
object DocIngest {

  /** Fold threshold for the near-dup signature index — same sizing
    * argument as [[CopyDetectMaintenance.DefaultConsolidateAfter]]. */
  val DefaultConsolidateAfter = 16

  // the signature index is a plain flat relation: job-commit _SUCCESS
  // is both the batch dirs' and the folds' commit point; the tenant's
  // composition forget fence lives at the index root
  private def indexFamily(idx: String): FoldProtocol.Family =
    FoldProtocol.Family(idx, "_SUCCESS", Some(idx))

  /** The signature relation's fixed schema — the layout CONTRACT for
    * every index dir (the [[NearDup.signatureRelation]] shape). Reads
    * go through it explicitly: a tail of FILELESS committed dirs (an
    * all-rejected or empty trigger writes markers only) must still read
    * cleanly, and forget's victim predicate must never silently match
    * nothing through a drifted inferred schema. DocIngestSpec pins it
    * against a written dir's actual footer. */
  private[graft] val signatureSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    // containsNull = true: parquet declares list elements nullable in
    // the footer even though shingle hashes never are — the contract
    // mirrors the written layout exactly (the spec pins that)
    StructField("sh", ArrayType(LongType)),
    StructField("band_idx", IntegerType),
    StructField("band_hash", LongType)))

  /** The audit sinks' fixed schema (rejects and near-dup rejects) —
    * the layout CONTRACT [[forget]]'s per-dir rewrite reads under: a
    * column added to the sink selects without updating this would be
    * silently DROPPED from surviving audit rows on the next forget
    * rewrite. DocIngestSpec pins it against a written dir's footer. */
  private[graft] val rejectSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("reject_reason", StringType)))

  final case class Sinks(corpus: String, rejects: String, error: String,
                         checkpoint: String)

  /** Wire schema: one JSON document per line. Fixed StructType — never
    * inferSchema on a production stream (SURVEY §1.2). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType),
    StructField("ingest_ts", StringType)))

  /** Stateless parse front. try_to_timestamp, not to_timestamp: one
    * poisoned timestamp must DLQ-route, not crash-loop the stream from
    * its checkpoint (same ANSI-mode trap as the CDC parse). */
  def parseLines(lines: DataFrame): DataFrame =
    lines
      .withColumn("doc", from_json(col("value"), docSchema))
      .withColumn("event_ts", try_to_timestamp(col("doc.ingest_ts")))

  /** Unparseable or incomplete: no parse at all, or a missing required
    * field. Complement of the main-path filter by construction — every
    * line reaches exactly one sink. */
  private def corrupt =
    col("doc").isNull || col("doc.doc_id").isNull ||
      col("doc.text").isNull || col("event_ts").isNull

  /** Quality gate: token-count band (the q41/q65 quality-proxy family;
    * extreme-length docs are boilerplate or binary junk). Kept as a column
    * so rejects stay auditable with their failure reason. */
  private def tooFewToks(minToks: Int) =
    size(TextOps.tokens(col("doc.text"))) < minToks
  private def tooManyToks(maxToks: Int) =
    size(TextOps.tokens(col("doc.text"))) > maxToks

  /** q63's deterministic hash-split rule, applied at ingest. */
  private def splitCol = {
    val h = substring(md5(col("doc.doc_id").cast("string")), 1, 1)
    when(h < "c", "train").when(h < "e", "val").otherwise("test")
  }

  /** Three routed queries: accepted (deduped corpus), rejected (audit),
    * corrupt (DLQ). Rejects split off BEFORE the stateful dedup — they are
    * an audit trail (every rejected line must appear, duplicates included)
    * and junk must not occupy corpus-dedup watermark state. The three
    * filters partition the input: every line reaches exactly one sink. */
  def start(lines: DataFrame, sinks: Sinks, trigger: Trigger,
            lateness: String = "1 hour", minToks: Int = 3,
            maxToks: Int = 10000, nearDupIndex: Option[String] = None,
            nearDupThreshold: Double = 0.5,
            consolidateAfter: Int = DefaultConsolidateAfter,
            compactAfter: Int = 0)
      : (StreamingQuery, StreamingQuery, StreamingQuery) = {
    val parsed = parseLines(lines)
    val rejectReason =
      when(tooFewToks(minToks), "too_short")
        .when(tooManyToks(maxToks), "too_long")

    val main = parsed
      .filter(!corrupt && rejectReason.isNull)
      .withColumn("digest", md5(col("doc.text")))
      .withWatermark("event_ts", lateness)
      .dropDuplicatesWithinWatermark("digest")
      .writeStream
      .foreachBatch(
        sinkBatch(sinks, nearDupIndex, nearDupThreshold, consolidateAfter,
          compactAfter) _)
      .trigger(trigger)
      .option("checkpointLocation", sinks.checkpoint).start()

    val rejects = parsed
      .filter(!corrupt && rejectReason.isNotNull)
      .select(col("doc.doc_id").as("doc_id"), col("doc.source").as("source"),
        rejectReason.as("reject_reason"))
      .writeStream.foreachBatch { (bad: DataFrame, batchId: Long) =>
        bad.write.mode("overwrite").parquet(s"${sinks.rejects}/batch_id=$batchId")
        if (compactAfter > 0)
          ArchiveCompaction.compactOlderThan(bad.sparkSession,
            sinks.rejects, compactAfter): Unit
      }.trigger(trigger)
      .option("checkpointLocation", sinks.checkpoint + "_rejects").start()

    val dlq = parsed
      .filter(corrupt)
      .select(col("value"))
      .writeStream.foreachBatch(CdcStreamPipeline.writeErrors(sinks.error) _)
      .trigger(trigger)
      .option("checkpointLocation", sinks.checkpoint + "_dlq").start()

    (main, rejects, dlq)
  }

  /** Corpus write. EXACT dedup already happened upstream in the stateful
    * dropDuplicatesWithinWatermark (first arrival wins — deterministic
    * under retry because a retried micro-batch replays the same offsets
    * from the checkpoint); this stage writes exactly-once via batch-scoped
    * overwrite, partitioned by the ingest-time split.
    *
    * With `nearDupIndex` set, the batch also runs NEAR-dup dedup against
    * the persisted MinHash index (the 100 TB steady state: the batch's
    * bands join the index FILES — cost |batch|, never |corpus|²). A new
    * document is dropped when it pairs above the threshold with an
    * already-indexed document, or with a lower-id document of the same
    * batch; dropped docs land in an auditable `<rejects>_neardup` sink
    * and ONLY survivors append their signatures (batch-scoped dirs, so a
    * retried micro-batch overwrites its own index contribution —
    * exactly-once for the index too). */
  def sinkBatch(sinks: Sinks, nearDupIndex: Option[String] = None,
                nearDupThreshold: Double = 0.5,
                consolidateAfter: Int = DefaultConsolidateAfter,
                compactAfter: Int = 0)
               (batch: DataFrame, batchId: Long): Unit = {
    // the near-dup branch drives several actions over the batch (audit
    // write, index append, corpus write) — persist so the source micro-
    // batch parses once, same discipline as the CDC sinkBatch
    if (nearDupIndex.isDefined) batch.persist()
    try doSinkBatch(sinks, nearDupIndex, nearDupThreshold, consolidateAfter,
      compactAfter, batch, batchId)
    finally if (nearDupIndex.isDefined) batch.unpersist()
  }

  private def doSinkBatch(sinks: Sinks, nearDupIndex: Option[String],
                          nearDupThreshold: Double, consolidateAfter: Int,
                          compactAfter: Int,
                          batch: DataFrame, batchId: Long): Unit = {
    val rows = batch
      .select(col("doc.doc_id").as("doc_id"), col("doc.text").as("text"),
        col("doc.source").as("source"), col("event_ts"),
        col("digest"), splitCol.as("split"))
    val accepted = nearDupIndex match {
      case None => rows
      case Some(idx) =>
        val spark = batch.sparkSession
        val docsW = rows
          .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
          .filter(size(col("w")) >= 3) // shingle-less docs cannot near-dup
        val newSig = NearDup.signatureRelation(docsW, "doc_id", "w")
          .localCheckpoint()
        // {latest committed consol, committed tail < batchId} off the
        // shared protocol — only COMMITTED dirs count (a crash mid-write
        // must not leave an unreadable root that crash-loops every
        // retry, and an uncommitted dir holds no rows anyway), and the
        // `< batchId` cut makes a RETRY probe identical to the original
        // run (folds only touch ids < batchId, so the retried batch
        // sees the same prior state whether or not its first attempt
        // folded). The probe reads EXPLICIT paths under the explicit
        // [[signatureSchema]]: a root read would ingest a crashed
        // batch's partial part-files as index rows, and an all-fileless
        // tail (empty triggers: markers only) must not crash inference.
        val fam = indexFamily(idx)
        graft.operators.IndexForget.assertClean(spark, idx)
        val consol = FoldProtocol.latestConsol(spark, fam)
        val tail = FoldProtocol
          .committedTail(spark, fam, consol.map(_.id).getOrElse(-1L))
          .filter(_.id < batchId)
        val roots = consol.toSeq ++ tail
        // per-dir deletion fences ride the listings already taken
        roots.foreach(_.assertClean())
        val index =
          if (roots.nonEmpty)
            spark.read.schema(signatureSchema)
              .parquet(roots.map(_.path.toString): _*)
          else newSig.limit(0)
        val pairs = NearDup.incrementalPairs(index, newSig, nearDupThreshold)
        // drop a NEW doc paired with an indexed doc (any id) or a
        // lower-id batch-mate — deterministic survivor per family
        val newIds = newSig.select(col("id")).distinct()
        val dropped = pairs
          .select(col("a_id").as("x"), col("b_id").as("y"))
          .unionAll(pairs.select(col("b_id").as("x"), col("a_id").as("y")))
          .join(newIds.select(col("id").as("x")), Seq("x"), "left_semi")
          .join(newIds.select(col("id").as("ny")), col("y") === col("ny"),
            "left")
          .filter(col("ny").isNull || col("y") < col("x"))
          .select(col("x").as("doc_id")).distinct()
          .localCheckpoint()
        rows.join(dropped, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("source"),
            lit("near_dup").as("reject_reason"))
          .write.mode("overwrite")
          .parquet(s"${sinks.rejects}_neardup/batch_id=$batchId")
        newSig.join(dropped, newSig("id") === dropped("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$idx/batch_id=$batchId")
        // fold the committed tail once it exceeds the threshold — the
        // protocol owns every window (torn folds invisible until their
        // _SUCCESS, the < batchId retry cut, lazy cleanup, fences); this
        // family only supplies the flat-relation union and write. Exact
        // duplicate rows dedup in the fold (probe answers are duplicate-
        // blind: incrementalPairs ends in distinct()) — consolidation
        // doubles as compaction, the CopyDetect argument. The fold takes
        // its OWN listing rather than reusing the probe's: the probe's
        // snapshot predates this batch's append and the fold's listing
        // is its crash-safety boundary (horizon, cleanup, fences). The
        // probe lists ≤ threshold + 2 dirs (one consol + at most
        // threshold+1 tail dirs — DocIngestSpec's BOUND case pins it);
        // the fold re-lists that same bounded set, a deliberate
        // metadata cost far under one bucket probe.
        if (consolidateAfter > 0)
          FoldProtocol.fold(spark, fam, batchId, consolidateAfter) {
            (c, t) =>
              val withData = (c.toSeq ++ t).filter(_.children.exists(s =>
                s.isFile && s.getLen > 0 &&
                  s.getPath.getName.endsWith(".parquet")))
              if (withData.isEmpty) None // all fileless — protocol reaps
              else Some(spark.read.schema(signatureSchema)
                .parquet(withData.map(_.path.toString): _*)
                .dropDuplicates()
                .localCheckpoint()) // sever lineage from the deleted dirs
          } { (union, dest) =>
            union.write.mode("overwrite").parquet(dest)
          }
        rows.join(dropped, Seq("doc_id"), "left_anti")
    }
    accepted.write.partitionBy("split")
      .mode("overwrite").parquet(s"${sinks.corpus}/batch_id=$batchId")
    // opt-in compaction cadence for the accreting sinks (the index
    // folds itself above): retain the newest `compactAfter` batch dirs
    // — the current batch is always among them, so a retried batch
    // still overwrites its OWN live dir (exactly-once preserved) —
    // and fold everything older into one split-partitioned dir.
    // ArchiveCompaction preserves the `split` layout, so downstream
    // partition pruning survives, and a crashed swap is finished by
    // the next trigger's recover-on-entry (inside compactOlderThan)
    // or by forget(). The corpus has no per-trigger read path, so the
    // transient reader race the operator-run stance documents applies
    // only to EXTERNAL readers — same contract as before, now on a
    // cadence. The DLQ stays out: its retention is time-based
    // whole-dir expiry (see the object scaladoc), and folding dirs
    // would merge quarantine lines across their arrival windows.
    if (compactAfter > 0) {
      val spark = batch.sparkSession
      ArchiveCompaction.compactOlderThan(spark, sinks.corpus,
        compactAfter): Unit
      if (nearDupIndex.isDefined)
        ArchiveCompaction.compactOlderThan(spark,
          s"${sinks.rejects}_neardup", compactAfter): Unit
    }
  }

  /** What a probe at `batchId` would list: (committed consolidation
    * horizon if any, committed tail batch ids beyond it) — the bound
    * the consolidation exists to enforce, exposed so DocIngestSpec can
    * pin the listed-dir count dropping across a fold. */
  private[graft] def indexParts(spark: org.apache.spark.sql.SparkSession,
                                idx: String, batchId: Long)
      : (Option[Long], Seq[Long]) = {
    val fam = indexFamily(idx)
    val consol = FoldProtocol.latestConsol(spark, fam)
    val horizon = consol.map(_.id).getOrElse(-1L)
    (consol.map(_.id),
      FoldProtocol.committedTail(spark, fam, horizon)
        .map(_.id).filter(_ < batchId).sorted)
  }

  /** Right-to-be-forgotten across the WHOLE ingest tenant — the
    * document's corpus rows, its audit rows in the rejects and
    * near-dup-rejects sinks, and its near-dup signatures in every
    * committed index dir all delete. QUIESCE the stream first (the
    * usual contract: a concurrent trigger's probe would race the dir
    * swaps — the fences turn that race into a loud failure, not a
    * wrong answer). Per root: a composition fence goes up, uncommitted
    * debris reaps (a crashed trigger's partial dir can physically
    * retain victim bytes no committed-dir rewrite touches), then only
    * the dirs holding victim rows rewrite —
    *   - corpus `batch_id=` dirs are `split=`-partitioned: the
    *     partitioned-index forget applies per dir (victim split
    *     partitions only; ArchiveCompaction's folded dirs keep the
    *     same layout and are covered by the same listing);
    *   - rejects / near-dup-rejects / index dirs are flat relations:
    *     the dir-level predicate rewrite applies under each family's
    *     explicit schema (a drifted schema must fail loudly, never
    *     match no victims and "succeed").
    * The DLQ is NOT covered — see the retention stance in the object
    * scaladoc (unparseable lines carry no extractable doc_id).
    *
    * RESUME semantics (the documented contract, lifecycle-pinned in
    * DocIngestSpec): after the forget, the resumed stream's probes
    * read the rewritten index cleanly, and a RE-ARRIVAL of the
    * forgotten text is accepted as a NEW document — its signatures
    * are gone, so to the near-dup gate it has never been seen (the
    * right-to-be-forgotten contract erases the document's footprint,
    * not the operator's ability to ingest equal future content).
    * Re-arrivals of SURVIVING documents' text still reject against
    * their retained signatures. */
  def forget(spark: org.apache.spark.sql.SparkSession, sinks: Sinks,
             ids: Seq[Long], nearDupIndex: Option[String] = None): Unit = {
    import graft.operators.IndexForget
    require(ids.nonEmpty, "forget needs at least one id")
    val victimDoc = col("doc_id").isin(ids: _*)
    // one exists() round-trip per candidate root, reused for both the
    // root selection and the skipped-roots warning
    val present: Map[String, Boolean] =
      (nearDupIndex.toSeq ++ Seq(sinks.rejects, s"${sinks.rejects}_neardup",
        sinks.corpus)).map { root =>
        val p = new Path(root)
        root -> p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(p)
      }.toMap
    val idxRoot = nearDupIndex.filter(present)
    val auditRoots =
      Seq(sinks.rejects, s"${sinks.rejects}_neardup").filter(present)
    val corpusRoot = Some(sinks.corpus).filter(present)
    // a mistyped corpus path must fail LOUDLY before any fence plants —
    // an absent-root skip here would delete nothing and "succeed", the
    // silent compliance-no-op class this tenant guards against
    // everywhere else. Audit/index roots may legitimately not exist
    // yet (a stream that never rejected writes no audit dir), so those
    // skips only log.
    require(corpusRoot.nonEmpty,
      s"no corpus at ${sinks.corpus} — forget would delete nothing " +
        "(path typo?); pass the Sinks the stream actually ran with")
    val skipped = (nearDupIndex.toSeq ++
      Seq(sinks.rejects, s"${sinks.rejects}_neardup")).filterNot(present)
    if (skipped.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"DocIngest.forget: skipping absent roots: ${skipped.mkString(", ")}")
    val allRoots = idxRoot.toSeq ++ auditRoots ++ corpusRoot

    // COMPOSITION fences on EVERY root BEFORE any work (the
    // CopyDetectMaintenance discipline): each root's per-dir markers
    // clear as its own rewrite commits, so a crash BETWEEN roots —
    // after the index and audit passes, before the corpus one — would
    // otherwise leave a clean-looking half-forgotten tenant with no
    // marker anywhere demanding the heal
    allRoots.foreach(r => IndexForget.fence(spark, r))

    // the signature index: the victim's band rows leave every
    // committed batch AND consol dir. HEAL FIRST, list second: a dir a
    // crashed earlier run retired to trash is invisible at listing
    // time, and forgetWhere's own repair would restore it AFTER the
    // list was taken — the restored (victim-bearing) dir would then
    // silently skip the rewrite while every fence clears. Then reap
    // uncommitted debris.
    idxRoot.foreach { idx =>
      IndexForget.heal(spark, idx)
      FoldProtocol.reapUncommitted(spark, indexFamily(idx))
      val fam = indexFamily(idx)
      val dirs = CommittedDirs.list(spark, idx).map(_._2.getName) ++
        FoldProtocol.consols(spark, fam).map(_.path.getName)
      IndexForget.forgetWhere(spark, idx, dirs.map(_ -> signatureSchema),
        col("id").isin(ids: _*), holdFence = true)
    }
    // audit sinks: a forgotten document's rejection is part of what
    // must be forgotten. FINISH any crashed ArchiveCompaction swap
    // FIRST: its fully-written staging dir (invisible dot-prefix +
    // `.complete` marker) can hold victim rows that the committed-dir
    // rewrite below never sees — and the NEXT compaction run would
    // publish them back over the cleaned dirs. recover() promotes the
    // staging to a committed batch dir this pass then rewrites. A
    // compaction that crashed mid-staging-WRITE (no marker) instead
    // REAPS: uncommitted by protocol, invisible to recover and every
    // reader, yet physically retaining victim bytes indefinitely.
    auditRoots.foreach { root =>
      IndexForget.heal(spark, root) // before listing — same window
      ArchiveCompaction.recover(spark, root): Unit
      ArchiveCompaction.reapStaging(spark, root): Unit
      FoldProtocol.reapUncommitted(spark,
        FoldProtocol.Family(root, "_SUCCESS", Some(root)))
      val dirs = CommittedDirs.list(spark, root).map(_._2.getName)
      IndexForget.forgetWhere(spark, root, dirs.map(_ -> rejectSchema),
        victimDoc, holdFence = true)
    }
    // corpus: split=-partitioned batch dirs — rewrite only the victim
    // split partitions of each committed dir (same crashed-compaction
    // recovery first, same reasoning)
    corpusRoot.foreach { c =>
      // heal before listing (same window as the audit roots): a batch
      // dir a crashed run retired to a root-level trash or staged-swap
      // sibling would be invisible to the committed-dir list below and
      // silently skip its rewrite. Today's corpus passes can't produce
      // such siblings (per-dir forgets repair inside their own dir and
      // never auto-stage at <= |splits| victims), but the listing's
      // safety must not depend on that reasoning staying true.
      IndexForget.heal(spark, c)
      ArchiveCompaction.recover(spark, c): Unit
      ArchiveCompaction.reapStaging(spark, c): Unit
      FoldProtocol.reapUncommitted(spark,
        FoldProtocol.Family(c, "_SUCCESS", Some(c)))
      CommittedDirs.list(spark, c).foreach { case (_, d) =>
        IndexForget.forget(spark, d.toString, "split", "doc_id", ids): Unit
      }
    }
    allRoots.reverse.foreach(r => IndexForget.unfence(spark, r))
  }
}
