package graft.streaming

import graft.functions.{Ivf, VectorOps}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ANN-shelf ingest — q227's append-without-re-train as a
  * foreachBatch tenant (the DocIngest discipline applied to the IVF
  * index; reference: embeddings stream into the serving vector store
  * continuously, cdk_stacks/ops.py). Per micro-batch of
  * `(id, vector)` rows:
  *   1. assign cells against the index's FROZEN centroids — a pure
  *      function of (vector, centroids), broadcast join + argmax, cost
  *      |batch|, no re-train, no rewrite of old files;
  *   2. write the assignments under the batch's own
  *      `batches/batch_id=N` dir, `cell=`-partitioned like the base
  *      index — batch-scoped overwrite + the committed-dir protocol
  *      ([[CommittedDirs]]) make retries exactly-once (the bare
  *      `Ivf.appendToIndex` is a BATCH ingest API; its append-mode
  *      write would double rows under a streaming retry);
  *   3. emit one drift row — the operational failure mode APPEND
  *      CREATES is silent recall decay: frozen centroids fit a moving
  *      distribution worse and worse, so each batch records its mean
  *      assignment fit (cos of each vector to its own centroid)
  *      against the base corpus's persisted baseline.
  *
  * Search ([[topKLive]]) reads base cells ∪ committed batch dirs,
  * pruned to the query's nprobe cells everywhere (explicit `cell=`
  * paths on the batch dirs — the CopyDetectMaintenance listing
  * discipline), so old and new vectors serve uniformly.
  *
  * RE-TRAIN is explicit, never automatic: when [[maintenanceReport]]
  * flags (arrival fit below the held-out baseline − tolerance, OR
  * planted-probe recall below its floor), [[retrain]] rebuilds at a
  * VersionedState staging root — re-assigning the streamed batch dirs'
  * vectors as base rows of the new version — and ONE atomic rename is
  * the repoint: a live [[topKLive]] resolving the current version
  * serves old or new consistently, never a mix, and a crash mid-build
  * leaves only an invisible staging dir healed by the next attempt.
  * Ingest must be QUIESCED across retrain (the serving path stays
  * live): a batch landing under the old version after the live-rows
  * snapshot would be silently absent from the new one.
  *
  * RETENTION — the copy-detect consolidation pattern, applied here:
  * batch N's update folds committed batch dirs beyond the horizon into
  * ONE `batches/consol_id=H` dir (cell-partitioned like everything
  * else; `_SUCCESS` — created at job commit, after the data moves — is
  * the fold's marker) once they exceed `consolidateAfter`, then
  * deletes them; [[topKLive]] reads {base cells, latest consol, tail},
  * so its listing is bounded by the threshold, not the stream's age.
  * The fold preserves the exact row multiset (NO dedup — unlike winnow
  * selections, two ingests of one id with different vectors are
  * distinct serving rows). Retries stay exactly-once: folds only touch
  * `batch_id < N`, so a retried batch overwrites its own dir and sees
  * the same fold state. Drift rows keep one dir per batch — they are
  * the report's content, read at monitor cadence, not per trigger. */
object IvfIngestMaintenance {

  /** One-time after the base `Ivf.writeIndex`: persist the drift
    * BASELINE — the base corpus's mean assignment fit under its own
    * centroids (one scan of the cells, done once at build time, never
    * per trigger). Pass the `sampleMod` used at TRAIN time: the
    * baseline then measures only the held-out complement
    * (`id % sampleMod != 0`) — training rows sit unnaturally close to
    * the centroids they defined, and a baseline that includes them is
    * biased HIGH, which false-flags perfectly in-distribution arrivals
    * (measured: all-rows baseline 0.233 vs held-out batch fits
    * 0.17–0.19 on the sf0.001 embeddings — a gap wider than any honest
    * tolerance).
    *
    * The modulus defaults to the index's own persisted training
    * metadata (`Ivf.writeIndex` records the EFFECTIVE value — 1 when
    * training silently fell back to the full corpus because the sample
    * undershot nlist), so the holdout can never desynchronize from
    * what training actually used. An explicit `sampleMod` is checked
    * against that metadata and refused on mismatch: a caller passing
    * the requested-but-fallen-back modulus would rebuild exactly the
    * biased baseline the holdout exists to avoid. */
  def writeBaseline(spark: SparkSession, indexDir: String,
                    sampleMod: Int = -1): Unit = {
    val persisted = Ivf.readTrainMeta(spark, indexDir)
    val mod =
      if (sampleMod < 0) persisted.getOrElse(1)
      else {
        persisted.foreach(m => require(m == sampleMod,
          s"baseline sampleMod=$sampleMod disagrees with the index's " +
            s"effective training modulus $m under $indexDir — training " +
            "fell back (or a different modulus was used); pass nothing " +
            "and the persisted value applies"))
        sampleMod
      }
    val centroids = Ivf.readCentroids(spark, indexDir)
    val cells = spark.read.parquet(s"$indexDir/cells")
    val holdout =
      if (mod <= 1) cells
      else cells.filter(col("nn_id") % mod =!= 0)
    fitOf(holdout, centroids)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/drift_baseline")
  }

  /** Default fold threshold — same sizing argument as
    * [[CopyDetectMaintenance.DefaultConsolidateAfter]]. */
  val DefaultConsolidateAfter = 16

  // fold/stable-listing machinery is the SHARED protocol (FoldProtocol);
  // this family's layout: batches fold under `index/batches` with
  // job-commit _SUCCESS markers, while the tenant's composition forget
  // fence lives at the index ROOT (it covers cells/ and batches/ alike)
  private def batchFamily(indexDir: String): FoldProtocol.Family =
    FoldProtocol.Family(s"$indexDir/batches", "_SUCCESS", Some(indexDir))

  /** Fold one micro-batch of vectors — call from foreachBatch. */
  def update(indexDir: String, vecs: DataFrame, batchId: Long,
             idCol: String = "vec_id", vecCol: String = "embedding",
             consolidateAfter: Int = DefaultConsolidateAfter): Unit = {
    val spark = vecs.sparkSession
    val centroids = Ivf.readCentroids(spark, indexDir)
    // one assignment pass feeds the write AND the drift row
    val assigned = Ivf.assignCells(
        vecs.select(col(idCol).as("nn_id"), col(vecCol).as("cv"),
          VectorOps.l2(col(vecCol)).as("cn"), Ivf.unit(col(vecCol)).as("vu")),
        "nn_id", "vu", centroids, keep = Seq("cv", "cn"))
      .localCheckpoint()
    assigned.write.partitionBy("cell").mode("overwrite")
      .parquet(s"$indexDir/batches/batch_id=$batchId")
    // no drift row for an EMPTY batch (a no-data trigger or recovery
    // replay): fitOf's global aggregate over zero rows would commit a
    // one-row all-null record that poisons driftReport (null
    // retrain_due); absence of the dir is the honest "nothing to
    // measure". The batch dir above still commits — exactly-once
    // bookkeeping is the stream's contract, metrics are not.
    if (!assigned.isEmpty)
      fitOf(assigned, centroids)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$indexDir/drift/batch_id=$batchId")
    if (consolidateAfter > 0)
      consolidateBatches(spark, indexDir, batchId, consolidateAfter)
  }

  /** Fold the committed batch-dir tail into `batches/consol_id=H` once
    * it exceeds the threshold; heal leftover deletes lazily. All crash
    * windows (torn fold invisible until its `_SUCCESS`, lazy cleanup,
    * retry-stability, forget fences) are [[FoldProtocol]]'s — this
    * family only supplies the cell-dir union and the partitioned
    * write. */
  private def consolidateBatches(spark: SparkSession, indexDir: String,
                                 batchId: Long, after: Int): Unit =
    FoldProtocol.fold(spark, batchFamily(indexDir), batchId, after) {
      (consol, tail) =>
        // explicit cell-dir reads off the child listings the protocol
        // already took (fileless committed dirs — empty batches — carry
        // no footers for inference); basePath keeps the cell column
        val withCells = (consol.toSeq ++ tail)
          .map(d => d -> d.childDirs("cell="))
          .filter(_._2.nonEmpty)
        if (withCells.isEmpty) None // all fileless — protocol reaps them
        else Some(withCells.map { case (d, dirs) =>
            spark.read.option("basePath", d.path.toString)
              .parquet(dirs.map(_.toString): _*)
              .select("nn_id", "cv", "cn", "cell")
          }.reduce(_ unionByName _)
          .localCheckpoint()) // sever lineage from the dirs deleted below
    } { (union, dest) =>
      // the fold preserves the exact row multiset (NO dedup — unlike
      // winnow selections, two ingests of one id with different vectors
      // are distinct serving rows); _SUCCESS at job commit is the marker
      union.write.partitionBy("cell").mode("overwrite").parquet(dest)
    }

  /** Right-to-be-forgotten for the LIVE shelf: the base cells
    * ([[graft.functions.Ivf.forget]]) AND every committed streaming
    * batch dir — a vector that arrived through [[update]] lives under
    * `batches/batch_id=N/cell=C`, which the base-only forget never
    * touches. Quiesce the stream first; a composition fence at the
    * index root keeps [[topKLive]] loudly refused across the multi-dir
    * rewrite (each dir's own marker clears as it commits). Drift rows
    * are per-batch aggregates (counts and means), not per-document
    * data — they carry nothing to forget. */
  def forget(spark: SparkSession, indexDir: String, ids: Seq[Long]): Unit = {
    import graft.operators.IndexForget
    val fam = batchFamily(indexDir)
    IndexForget.fence(spark, indexDir)
    // UNCOMMITTED debris first (stream quiesced by contract): a crashed
    // trigger's partial batch dir or a torn fold is invisible to probes
    // but can physically retain victim vectors that the committed-dir
    // rewrite below never touches — reap it (a retry overwrites its own
    // dir in full; a torn consol is overwritten by the next fold)
    FoldProtocol.reapUncommitted(spark, fam)
    Ivf.forget(spark, indexDir, ids)
    // HEAL before listing: the per-dir forget below can take the
    // STAGED whole-dir swap for mass deletes (>=33 victim cells and
    // >=30% of a dir's cell= dirs), and a crash mid-publish retires
    // the batch dir to a dot-prefixed sibling invisible to this
    // enumeration — the re-run would silently skip the victim-bearing
    // dir while the fence clears. heal() finishes/restores child
    // staged swaps first. (The base cells root needs no pre-heal:
    // Ivf.forget above enters through forget(), whose own entry
    // repairs the root's staged windows.)
    IndexForget.heal(spark, fam.root)
    // every committed streaming dir: consolidated AND tail (an older
    // shadowed consol can only exist as a missed delete BELOW the
    // latest — cleanupBelow reaps it; rows there are a subset of the
    // latest, but rewrite them anyway if present)
    (FoldProtocol.consols(spark, fam).map(_.path) ++
      CommittedDirs.list(spark, fam.root).map(_._2)).foreach { d =>
      IndexForget.forget(spark, d.toString, "cell", "nn_id", ids): Unit
    }
    // planted probes whose GROUND-TRUTH row is being forgotten are
    // void: keeping them would hard-wire a permanent recall miss —
    // the monitor would flag retrain_due forever, and retrain carries
    // the probe set over while the row stays absent from the live
    // corpus, so the alarm could never clear. The rewrite goes through
    // the FLAT swap protocol (a bare overwrite deletes the only copy
    // before the replacement commits — a crash there would silently
    // retire the whole recall monitor); the common no-victim-probes
    // forget never touches the set at all (forgetFlat's own scan),
    // and a set whose EVERY probe voids retires by whole-dir delete
    // (any partial remainder of that delete holds only void probes,
    // so a retry re-retires — crash-safe without the swap).
    val probeP = new org.apache.hadoop.fs.Path(s"$indexDir/probe_set")
    val probeMarker = new org.apache.hadoop.fs.Path(
      s"$indexDir/probe_set._FORGET_INPROGRESS")
    val pfs = probeP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // HEAL FIRST: a torn earlier swap may have retired the set to its
    // trash sibling — a guard that skipped past it would strand the
    // debris forever behind a heal instruction that does nothing (and
    // a later retrain would silently drop the restored-able set)
    IndexForget.repairFlat(spark, probeP.toString)
    if (pfs.exists(probeP)) {
      // a torn RETIRE's remainder (fileless dir, or only void rows —
      // the retire path deletes child-by-child) must re-retire, not
      // crash schema inference on a footer-less dir
      val hasData = pfs.listStatus(probeP).exists(f =>
        f.isFile && f.getLen > 0 && f.getPath.getName.endsWith(".parquet"))
      if (!hasData) {
        pfs.delete(probeP, true)
        pfs.delete(probeMarker, false): Unit
      } else {
        val voided = col("expect_id").isin(ids: _*)
        val all = spark.read.parquet(probeP.toString)
        if (!all.filter(voided).isEmpty && all.filter(!voided).isEmpty) {
          // every probe voids — retire by whole-dir delete (any partial
          // remainder holds only void rows, so a retry re-retires)
          pfs.delete(probeP, true)
          pfs.delete(probeMarker, false): Unit
        } else
          // some or no victims: forgetFlat owns every window (its
          // no-victim path touches no files and clears a stale marker)
          IndexForget.forgetFlat(spark, probeP.toString, voided): Unit
      }
    } else
      // no dir and no trash (repairFlat would have restored): a
      // stranded marker has nothing left to fence
      pfs.delete(probeMarker, false): Unit
    IndexForget.unfence(spark, indexDir)
  }

  /** Mean assignment fit + occupancy skew of an assigned relation
    * `(cell, cv, …)`: fit = avg cos(vector, its centroid) — the
    * quantity whose decay means the frozen coarse quantizer no longer
    * matches the data; top_share = the largest cell's row fraction —
    * a hot cell degrades probe pruning even when fit holds. */
  private def fitOf(assigned: DataFrame, centroids: Seq[Seq[Double]])
      : DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val cdf = broadcast(centroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cell", "cvec"))
    // two-level: per-cell partials (uniform key, map-side combined),
    // then one nlist-row reduce — nothing data-sized moves
    assigned.join(cdf, "cell")
      .select(col("cell"),
        call_function("vec_dot", Ivf.unit(col("cv")), col("cvec")).as("fit"))
      .groupBy("cell")
      .agg(count(lit(1)).as("rows"), sum(col("fit")).as("fit_sum"))
      .agg(sum(col("rows")).as("n"),
        (sum(col("fit_sum")) / sum(col("rows"))).as("fit"),
        (max(col("rows")).cast("double") / sum(col("rows")))
          .as("top_share"))
  }

  // ---------- versioned tenant: retrain / repoint ----------

  /** The committed (version, index root) a reader should serve, if any
    * — resolution is ONE listing; everything a query then reads lives
    * under that root, so a concurrent repoint can never mix versions
    * inside one query. */
  def currentVersion(spark: SparkSession, tenantRoot: String)
      : Option[(Long, String)] =
    VersionedState.latest(spark, tenantRoot)
      .map(v => (v, s"$tenantRoot/v=$v"))

  /** [[currentVersion]] or a loud refusal. */
  def currentIndexDir(spark: SparkSession, tenantRoot: String): String =
    currentVersion(spark, tenantRoot).map(_._2).getOrElse(
      throw new IllegalArgumentException(
        s"no committed index version under $tenantRoot — initVersioned first"))

  /** One-time tenant bootstrap: build the base index (plus its drift
    * baseline) at the staging root and publish it as `v=0`. */
  def initVersioned(spark: SparkSession, tenantRoot: String,
                    corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int, iters: Int = 3, sampleMod: Int = 1): String = {
    val staging = VersionedState.stagingPath(tenantRoot, 0L)
    Ivf.writeIndex(corpus, idCol, vecCol, nlist, staging, iters, sampleMod)
    writeBaseline(spark, staging)
    VersionedState.publish(spark, tenantRoot, 0L)
    s"$tenantRoot/v=0"
  }

  /** RE-TRAIN + RE-POINT — the explicit answer to a
    * [[maintenanceReport]] flag. Quiesce INGEST first (serving stays
    * live); then:
    *   1. snapshot the current version's LIVE rows — base cells ∪
    *      every committed batch/consol dir, so streamed vectors
    *      re-enter as base rows of the new version;
    *   2. build a FRESH index (new centroids, new baseline; the
    *      persisted probe set carries over — ground truth does not
    *      depend on the quantizer) at the VersionedState staging root —
    *      a crash here leaves only the invisible staging dir, healed by
    *      the next attempt's wholesale overwrite;
    *   3. publish with ONE atomic rename ([[VersionedState.publish]])
    *      — the repoint. A live query that resolved the old version
    *      finishes against it (the newest versions linger for such
    *      readers); the next resolution serves the new one.
    * Returns the new version's root. */
  def retrain(spark: SparkSession, tenantRoot: String, nlist: Int,
              iters: Int = 3, sampleMod: Int = 1): String = {
    import graft.operators.IndexForget
    val (v, cur) = currentVersion(spark, tenantRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no committed index version under $tenantRoot — initVersioned first"))
    // a torn forget would make the live-rows snapshot silently miss
    // trash-retired survivors — refuse until healed
    IndexForget.assertClean(spark, cur)
    IndexForget.assertClean(spark, s"$cur/cells")
    val live = liveRows(spark, cur).localCheckpoint()
    val staging = VersionedState.stagingPath(tenantRoot, v + 1)
    new org.apache.hadoop.fs.Path(staging)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(staging), true)
    Ivf.writeIndex(live, "nn_id", "cv", nlist, staging, iters, sampleMod)
    writeBaseline(spark, staging)
    // the probe set is version-independent ground truth — carry it over
    val probeSrc = s"$cur/probe_set"
    val pfs = new org.apache.hadoop.fs.Path(probeSrc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (pfs.exists(new org.apache.hadoop.fs.Path(probeSrc)))
      spark.read.parquet(probeSrc)
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/probe_set")
    VersionedState.publish(spark, tenantRoot, v + 1)
    s"$tenantRoot/v=${v + 1}"
  }

  /** Every row the current version serves — the new version's corpus:
    * base cells plus the committed consolidated + tail batch dirs. */
  private def liveRows(spark: SparkSession, indexDir: String): DataFrame = {
    val base = spark.read.parquet(s"$indexDir/cells").select("nn_id", "cv")
    val (consol, tail) =
      FoldProtocol.stableSnapshot(spark, batchFamily(indexDir))
    val cellDirs = (consol.toSeq ++ tail)
      .flatMap(_.childDirs("cell=").map(_.toString))
    if (cellDirs.isEmpty) base
    else base.unionByName(
      spark.read.parquet(cellDirs: _*).select("nn_id", "cv"))
  }

  // ---------- planted-probe recall monitor ----------

  /** Persist the PLANTED PROBE SET next to the index:
    * `(probe_id, qv, expect_id)` rows whose ground truth is known by
    * construction (the q48 plant pattern — each probe is a near-copy
    * of a specific corpus vector, so `expect_id` MUST appear in its
    * top-k under any healthy index). Parameter-sized by construction;
    * read driver-side at monitor cadence, never per trigger.
    * Lifecycle: [[retrain]] carries the set across versions (ground
    * truth does not depend on the quantizer); [[forget]] VOIDS probes
    * whose expect_id is deleted (a forgotten ground-truth row would
    * otherwise hard-wire a permanent recall miss) and retires the set
    * when none remain — [[maintenanceReport]] then reports a null
    * recall, not a phantom verdict.
    *
    * Honest limitation: a probe crowded out of top-k by GENUINELY
    * closer arrivals (mass near-duplicates of the probe itself) keeps
    * the flag up even after a retrain — from the index's vantage that
    * is indistinguishable from recall decay, and the index is CORRECT
    * to rank the closer rows first. That flag is still actionable
    * (the crowd is semantic-dedup work upstream); operators who expect
    * heavy legitimate densification near a probe should refresh the
    * probe set at retrain time rather than expect it to self-clear. */
  def writeProbeSet(spark: SparkSession, indexDir: String,
                    probes: DataFrame, probeIdCol: String = "probe_id",
                    vecCol: String = "qv",
                    expectCol: String = "expect_id"): Unit = {
    val rows = probes.select(col(probeIdCol).cast("long").as("probe_id"),
        col(vecCol).cast("array<double>").as("qv"),
        col(expectCol).cast("long").as("expect_id"))
      .localCheckpoint()
    // probe_id is the set's KEY: the batched monitor windows top-k per
    // probe_id, so two rows sharing an id would interleave their
    // candidate pools into one garbage verdict — refuse at the one
    // write choke point (a single one-row aggregate; the set is
    // parameter-sized)
    val guard = rows
      .agg(count(lit(1)).as("n"), countDistinct(col("probe_id")).as("d"),
        count(when(col("probe_id").isNull, 1)).as("nulls"))
      .head()
    // countDistinct skips NULLs — name them explicitly, or a caller
    // whose ids cast('long') to null would be sent hunting duplicates
    require(guard.getLong(2) == 0,
      s"${guard.getLong(2)} probe rows have NULL probe_id (a non-" +
        "numeric id cast to long?) — probe_id must key each probe")
    require(guard.getLong(0) == guard.getLong(1),
      s"probe set has ${guard.getLong(0)} rows but only " +
        s"${guard.getLong(1)} distinct probe_ids — probe_id must " +
        "uniquely key each planted probe")
    rows.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/probe_set")
  }

  /** Planted-probe recall over the LIVE shelf, `(probe_id, expect_id,
    * hit)` — ONE [[topKLiveBatch]] job for the whole persisted set,
    * however many probes it holds (a realistic 1k-probe set must not
    * serialize 1k pruned scans at monitor cadence; StreamingSpec pins
    * the O(1)-jobs shape with a listener). This measures what
    * [[driftReport]]'s assignment fit cannot: END-TO-END retrieval of
    * known ground truth — a hot cell can crowd a known answer out of
    * top-k while every arrival still fits its own centroid
    * beautifully. */
  def recallReport(spark: SparkSession, indexDir: String, k: Int = 10,
                   nprobe: Int = 4): DataFrame = {
    // a probe-set swap a forget() died on must fail the monitor loudly
    // (cheap: one exists at monitor cadence; heal = re-run forget)
    graft.operators.IndexForget.assertCleanFlat(spark, s"$indexDir/probe_set")
    val probes = spark.read.parquet(s"$indexDir/probe_set")
      .select("probe_id", "qv", "expect_id").localCheckpoint()
    require(!probes.isEmpty,
      s"no persisted probe set under $indexDir/probe_set")
    val top = topKLiveBatch(spark, indexDir,
      probes.select("probe_id", "qv"), "probe_id", "qv", k, nprobe)
    // a probe whose probed cells hold no rows keeps its row (hit =
    // false via the left join), never silently drops from the report
    probes.select("probe_id", "expect_id")
      .join(top.select("probe_id", "nn_id"), Seq("probe_id"), "left")
      .groupBy("probe_id", "expect_id")
      .agg(coalesce(max(col("nn_id") === col("expect_id")), lit(false))
        .as("hit"))
  }

  /** Batched [[topKLive]]: ONE pruned pass over the live shelf answers
    * EVERY query row — the q74 shape. Each query joins only ITS OWN
    * nprobe cells' rows (the per-query probe-cell relation is the join
    * key, so pruning is per query, not the union), and the per-query
    * top-k is a rank window Spark executes as WindowGroupLimit.
    * Identical scoring and tie order (sim desc, nn_id asc) to the
    * single-query path — parity is spec-pinned. Returns
    * `(<idCol>, nn_id, sim)`, ≤ k rows per query; a query whose probed
    * cells hold no rows yields none. `idCol` must uniquely key the
    * query rows — two rows sharing an id would interleave their
    * candidate pools in one window partition ([[writeProbeSet]]
    * enforces this for the probe set). */
  def topKLiveBatch(spark: SparkSession, indexDir: String,
                    queries: DataFrame, idCol: String, vecCol: String,
                    k: Int, nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    // FAIL-FAST fence check before any real work (livePruned re-checks
    // as part of the shared read): a torn forget should refuse here,
    // not after the centroid read and the probe-cell checkpoint job
    graft.operators.IndexForget.assertClean(spark, s"$indexDir/cells")
    val centroids = Ivf.readCentroids(spark, indexDir)
    // (query, its probe cells) — query sets are parameter-sized by
    // contract (probe sets, mining anchors), so the relation broadcasts.
    // Two-step projection: aliasing `qv` while also deriving FROM the
    // caller's own `qv` column in one select trips Spark 4's
    // lateral-column-alias resolution inside the higher-order probe
    // expression (internal LateralColumnAliasReference error)
    val q0 = queries.select(col(idCol).as("__qid"), col(vecCol).as("__qv"))
    val probeRel = broadcast(q0.select(
        col("__qid"), col("__qv").as("qv"),
        VectorOps.l2(col("__qv")).as("qn"),
        explode(Ivf.probeCells(Ivf.unit(col("__qv")), centroids, nprobe))
          .as("cell"))
      .localCheckpoint())
    // the UNION of all queries' cells prunes the scan once (driver-side
    // ints, ≤ nlist); the join below re-restricts each query to its own
    val wanted = probeRel.select("cell").distinct().as[Int].collect().toSeq
    val live = livePruned(spark, indexDir, wanted)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__qid"))
      .orderBy(col("sim").desc, col("nn_id"))
    live.join(probeRel, "cell")
      .withColumn("sim",
        VectorOps.dot(col("cv"), col("qv")) / (col("cn") * col("qn")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("__qid").as(idCol), col("nn_id"), col("sim"))
  }

  /** The ONE copy of the live pruned-union read both top-k paths
    * share — the protocol-shaped part where drift would be a crash
    * window, not a wrong score: the cells/ deletion fence, the STABLE
    * (consol, tail) snapshot (re-list-until-stable + per-dir fence
    * checks riding the child listings), the per-dir `cell=` selection
    * off those listings, and the partition-pruned base read. Returns
    * `(nn_id, cv, cn, cell)` restricted to `wanted` cells; dirs deleted
    * between the snapshot and the scan fail loudly
    * (FileNotFoundException) and a plain retry sees the folded state.
    * Scoring stays in the callers — [[topKLive]] and [[topKLiveBatch]]
    * deliberately score independently so their parity spec remains a
    * real cross-check. */
  private def livePruned(spark: SparkSession, indexDir: String,
                         wanted: Seq[Int]): DataFrame = {
    graft.operators.IndexForget.assertClean(spark, s"$indexDir/cells")
    val (consol, tailDirs) =
      FoldProtocol.stableSnapshot(spark, batchFamily(indexDir))
    val wantNames = wanted.map(c => s"cell=$c").toSet
    // per-dir basePath reads keep the cell partition column (a bare
    // multi-path read would drop it — the batched join keys on it)
    val batchParts = (consol.toSeq ++ tailDirs)
      .map(d => d -> d.childDirs("cell=")
        .filter(p => wantNames.contains(p.getName)))
      .filter(_._2.nonEmpty)
      .map { case (d, dirs) =>
        spark.read.option("basePath", d.path.toString)
          .parquet(dirs.map(_.toString): _*)
          .select(col("nn_id"), col("cv"), col("cn"),
            col("cell").cast("int").as("cell"))
      }
    val base = spark.read.parquet(s"$indexDir/cells")
      .filter(col("cell").isin(wanted: _*))
      .select(col("nn_id"), col("cv"), col("cn"),
        col("cell").cast("int").as("cell"))
    (base +: batchParts).reduce(_ unionByName _)
  }

  /** The one-row maintenance verdict — BOTH legs, one flag:
    * `fit_due` (any committed batch's arrival fit under the held-out
    * baseline − tolerance: distribution shift) OR `recall_due`
    * (planted-probe recall under `recallFloor`: serving quality decay,
    * which fit alone can miss under hot-cell skew) raises
    * `retrain_due`. Columns: (fit_due, recall, recall_due,
    * retrain_due). */
  def maintenanceReport(spark: SparkSession, indexDir: String,
                        tolerance: Double = 0.05,
                        recallFloor: Double = 0.7, k: Int = 10,
                        nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    // a torn tenant forget must fail the monitor loudly — in that
    // state probe_set may be legitimately mid-swap (or retired to
    // trash), and "absent" must not silently read as "no probes"
    graft.operators.IndexForget.assertClean(spark, indexDir)
    graft.operators.IndexForget.assertCleanFlat(spark, s"$indexDir/probe_set")
    // a FRESH version has no drift history yet (retrain starts with an
    // empty batch tail) — the first thing an operator does after a
    // retrain is check that the alarm cleared, and "no arrivals" must
    // read as fit-quiet, not throw (driftReport itself still refuses:
    // it exists to report rows)
    val fitDue = CommittedDirs.list(spark, s"$indexDir/drift").nonEmpty &&
      driftReport(spark, indexDir, tolerance)
        .filter(col("retrain_due")).limit(1).count() > 0
    // the recall leg retires when no probe set exists (none written,
    // or every probe's ground-truth row was forgotten) — a null
    // recall, not a phantom verdict
    val probeP = new org.apache.hadoop.fs.Path(s"$indexDir/probe_set")
    val hasProbes = probeP
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(probeP)
    val recall: Option[Double] =
      if (!hasProbes) None
      else {
        val hits = recallReport(spark, indexDir, k, nprobe)
          .select(col("hit").cast("int")).as[Int].collect()
        Some(hits.sum.toDouble / hits.length)
      }
    val recallDue = recall.exists(_ < recallFloor)
    Seq((fitDue, recall, recallDue, fitDue || recallDue))
      .toDF("fit_due", "recall", "recall_due", "retrain_due")
  }

  /** Drift rows of every committed batch, joined against the persisted
    * baseline, flagged where fit dropped more than `tolerance`:
    * `(batch_id, n, fit, base_fit, retrain_due)`. The flag is advisory
    * — re-training is an explicit operator action (see scaladoc). */
  def driftReport(spark: SparkSession, indexDir: String,
                  tolerance: Double = 0.05): DataFrame = {
    val dirs = CommittedDirs.list(spark, s"$indexDir/drift")
    require(dirs.nonEmpty, s"no committed drift rows under $indexDir/drift")
    val base = broadcast(
      spark.read.parquet(s"$indexDir/drift_baseline")
        .select(col("fit").as("base_fit")))
    spark.read.option("basePath", s"$indexDir/drift")
      .parquet(dirs.map(_._2.toString): _*)
      .crossJoin(base)
      .select(col("batch_id").cast("long").as("batch_id"), col("n"),
        col("fit"), col("top_share"), col("base_fit"),
        (col("fit") < col("base_fit") - lit(tolerance)).as("retrain_due"))
      .orderBy("batch_id")
  }

  /** [[Ivf.ivfTopKIndexed]] over the LIVE shelf: base cells ∪ every
    * committed batch dir, all pruned to the query's nprobe cells
    * before a row is read (partition filter on the base, explicit
    * `cell=` paths on the batch dirs). Identical scoring to the base
    * path, so results equal an inline `ivfTopK` over the union corpus
    * with the same frozen centroids. */
  def topKLive(spark: SparkSession, indexDir: String, query: DataFrame,
               vecCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    // FAIL-FAST fence check before any real work (livePruned re-checks
    // as part of the shared read); this path only scores one query
    graft.operators.IndexForget.assertClean(spark, s"$indexDir/cells")
    val centroids = Ivf.readCentroids(spark, indexDir)
    val probes = query.select(
        explode(Ivf.probeCells(Ivf.unit(col(vecCol)), centroids, nprobe))
          .as("p"))
      .as[Int].collect().toSeq
    val live = livePruned(spark, indexDir, probes)
      .select("nn_id", "cv", "cn")
    val q = broadcast(query.select(col(vecCol).as("qv"),
      VectorOps.l2(col(vecCol)).as("qn")))
    live.crossJoin(q)
      .withColumn("sim",
        VectorOps.dot(col("cv"), col("qv")) / (col("cn") * col("qn")))
      .select(col("nn_id"), col("sim"))
      .orderBy(col("sim").desc, col("nn_id"))
      .limit(k)
  }
}
