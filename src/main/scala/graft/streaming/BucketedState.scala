package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Key-partitioned versioned state — the 100 TB exit the flat
  * [[VersionedState]] tenants document (SCALE.md "serving merge"): instead
  * of rewriting the WHOLE state as one snapshot per batch, state rows
  * hash-partition into the p buckets the newest manifest records
  * (`bucket = pmod(xxhash64(key), p)`), each version directory carries
  * ONLY the buckets the batch dirtied, and a pointer manifest maps every
  * bucket to the version that last rewrote it — the LSM/Delta-style
  * partition-level rewrite. Per-trigger write cost is O(dirty
  * buckets), not O(state); readers resolve the manifest and
  * partition-prune to the buckets they need; untouched buckets carry
  * forward as POINTERS, never copies.
  *
  * Commit protocol (same exactly-once discipline as [[VersionedState]]):
  * dirty buckets + the manifest land in a staging directory, then ONE
  * rename publishes them — a torn write is invisible (no manifest under a
  * `v=` name until the rename), and a retried batch whose rename already
  * landed short-circuits on [[committed]]. The fold being replayed is
  * deterministic from (prior manifest, batch), so a retry that lost the
  * rename race re-creates identical content. Version pruning keeps every
  * version referenced by the newest [[KeepManifests]] manifests — a pointer
  * can reach arbitrarily far back (a never-touched bucket), so retention
  * is reference-driven, never age-driven. */
object BucketedState {

  /** Partition column name every bucketed tenant shares. */
  val BucketCol = "bucket"

  /** Retention horizon: every commit keeps the versions its newest
    * `KeepManifests` manifests reference, so a reader that resolved one
    * of them keeps its files. */
  private val KeepManifests = 4

  /** Deterministic bucket of a state key — MUST be the same expression at
    * write (layout) and update (dirty-set) time. */
  def bucketOf(key: Column, p: Int): Column =
    pmod(xxhash64(key), lit(p)).cast("int")

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True when `batchId` already committed — the retry short-circuit. */
  def committed(spark: SparkSession, dir: String, batchId: Long): Boolean =
    fsOf(spark, dir).exists(new Path(s"$dir/v=$batchId"))

  private def manifestPath(version: Long, dir: String) =
    new Path(s"$dir/v=$version/_MANIFEST")

  /** The ONE parser for the on-disk manifest format (line 1
    * `p=<buckets>`, then `<bucket>=<version>` per dirty-ever bucket —
    * plain text, no JSON dependency). Both the reader and commit()'s
    * retention pass go through here: a second hand-rolled parser in the
    * prune path is how a format tweak deletes a still-referenced
    * version. */
  private def parseManifest(fs: FileSystem, dir: String, version: Long)
      : (Int, Map[Int, Long]) = {
    val in = fs.open(manifestPath(version, dir))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    val p = lines.head.stripPrefix("p=").toInt
    val entries = lines.tail.map { l =>
      val Array(b, ver) = l.split("=", 2)
      b.toInt -> ver.toLong
    }.toMap
    (p, entries)
  }

  /** Spec hook: count of manifest resolutions ([[latestManifest]]
    * calls) — a BATCHED point lookup must resolve exactly once for its
    * whole key set (the PrunedFold counting discipline, read-side). */
  private[graft] val manifestResolutions =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Newest committed manifest: (version, p, bucket → owning version).
    * None ONLY when no state exists yet; a dir holding `v=` versions
    * none of which carry a manifest is a FOREIGN layout (e.g. a flat
    * VersionedState shelf) and throws — silently treating it as empty
    * would discard the prior state in the next fold while committed()
    * still honored its version numbers as a retry fence. */
  def latestManifest(spark: SparkSession, dir: String)
      : Option[(Long, Int, Map[Int, Long])] = {
    manifestResolutions.incrementAndGet()
    val fs = fsOf(spark, dir)
    val root = new Path(dir)
    if (!fs.exists(root)) return None
    val versions = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v=")).flatMap(_.stripPrefix("v=").toLongOption)
    val newest = versions.sorted.reverse.collectFirst {
      case v if fs.exists(manifestPath(v, dir)) =>
        val (p, entries) = parseManifest(fs, dir, v)
        (v, p, entries)
    }
    // commit() publishes the manifest and the version dir in ONE rename,
    // so every legitimate v= dir carries _MANIFEST
    if (newest.isEmpty && versions.nonEmpty)
      throw new IllegalStateException(
        s"$dir holds versions ${versions.sorted.mkString(",")} but no " +
          "_MANIFEST — not a BucketedState layout; refusing to treat " +
          "existing state as empty")
    newest
  }

  /** State rows for `want` buckets (None = all), resolved through the
    * manifest: one partition-pruned parquet read per distinct owning
    * version. `schema` must include [[BucketCol]] (explicit schema so an
    * all-deleted — fileless — bucket reads as empty, not as an inference
    * error). */
  def read(spark: SparkSession, dir: String, schema: StructType,
           manifest: Map[Int, Long], want: Option[Set[Int]]): DataFrame = {
    val wanted = want.fold(manifest)(ws => manifest.filter(e => ws(e._1)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    wanted.groupBy(_._2).map { case (version, entries) =>
      spark.read.schema(schema).parquet(s"$dir/v=$version")
        .filter(col(BucketCol).isin(entries.keys.toSeq: _*))
    }.foldLeft(empty)(_ unionByName _)
  }

  /** Publish `dirtyState` (rows of the dirty buckets ONLY, carrying
    * [[BucketCol]]) as version `batchId`, with pointers for every other
    * bucket inherited from `priorManifest`. */
  def commit(dirtyState: DataFrame, dir: String, batchId: Long, p: Int,
             dirtyBuckets: Set[Int], priorManifest: Map[Int, Long]): Unit = {
    val spark = dirtyState.sparkSession
    val fs = fsOf(spark, dir)
    val target = new Path(s"$dir/v=$batchId")
    val staging = new Path(s"$dir/.staging-$batchId")
    dirtyState.write.mode("overwrite")
      .partitionBy(BucketCol).parquet(staging.toString)
    val manifest = priorManifest ++ dirtyBuckets.map(_ -> batchId)
    val out = fs.create(new Path(staging, "_MANIFEST"), true)
    try out.write(
      (s"p=$p" +: manifest.toSeq.sorted.map { case (b, v) => s"$b=$v" })
        .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(target)) fs.delete(staging, true)
    else require(fs.rename(staging, target),
      s"rename $staging -> $target failed")
    // prune: drop crashed stagings, then every version not referenced by
    // the newest KeepManifests manifests (pointer-driven retention)
    fs.listStatus(new Path(dir)).toSeq.map(_.getPath)
      .filter(q => q.getName.startsWith(".staging-") &&
        q.getName.stripPrefix(".staging-").toLongOption.exists(_ < batchId))
      .foreach(q => fs.delete(q, true))
    val versions = fs.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v=")).flatMap(_.stripPrefix("v=").toLongOption)
      .sorted.reverse
    val live = versions.take(KeepManifests).flatMap { v =>
      if (!fs.exists(manifestPath(v, dir))) Seq(v)
      else v +: parseManifest(fs, dir, v)._2.values.toSeq
    }.toSet
    versions.filterNot(live).filter(_ < batchId)
      .foreach(v => fs.delete(new Path(s"$dir/v=$v"), true))
    // refresh the version-keyed verification cache to THIS commit: the
    // writer knows the on-disk schema it just published (every fold path
    // verified the prior state before folding), so the next trigger's
    // verifySchema hits without re-inferring footers
    verifiedDirs.put(dir,
      (batchId, fieldPaths(dirtyState.schema) - BucketCol)): Unit
  }

  /** The one compaction path: called from foreachBatch AT THE ENGINE'S
    * OWN id for this batch, it folds the batch into the FULL state and
    * republishes EVERY bucket as one fresh version whose manifest points
    * only at `batchId` — no pointer reaches behind the compaction point,
    * which bounds file listing and retention to O(1) versions.
    * Fold and rewrite land in the same staging+rename commit, so a
    * crashed compaction is invisible and a retried batch finds its own id
    * committed WITH its fold applied. The id sequence stays the
    * engine's: no later batch is shadowed, and the retry fence keeps its
    * meaning.
    *
    * Retention is the ordinary [[KeepManifests]] horizon: a live reader
    * that resolved any of the last few manifests keeps its pinned
    * versions, and the pre-compaction versions age out through the
    * following commits' reference-driven pruning. Cost is one full-state
    * read + write; run it on a cadence, with plain folds between.
    *
    * Every bucket is rewritten, so the commit lays the state out at
    * `targetP` (the [[requireGrow]] rule: never below the on-disk p) and
    * folds above this id resolve that fan-out from the manifest. */
  def foldCompact(spark: SparkSession, dir: String, batchId: Long,
                  targetP: Int, schema: StructType, keyCol: String,
                  what: String)(fold: DataFrame => DataFrame): Unit =
    resolveForFold(spark, dir, batchId, targetP, schema, what,
        requireGrow(dir, targetP, what)).foreach { case (_, manifest) =>
      val merged = fold(read(spark, dir, schema, manifest, None)
        .drop(BucketCol))
        .withColumn(BucketCol, bucketOf(col(keyCol), targetP))
      // prior manifest deliberately dropped from the POINTERS: every
      // bucket (rows or not) re-homes at batchId, while retention keeps
      // the same reader horizon every normal commit honors
      commit(merged, dir, batchId, targetP, (0 until targetP).toSet,
        Map.empty)
    }

  /** The grow rule of every bucketed tenant: a write that rewrites every
    * bucket lays out at its target p, which must be ≥ the on-disk p. A
    * smaller target is refused — a surviving old binary in a rolling
    * deploy would otherwise re-bucket the full state back and forth
    * every trigger; a shrink is a reseed or migration, never a trigger.
    * Passed as [[resolveForFold]]'s check, so it runs before the retry
    * fence. */
  private[streaming] def requireGrow(dir: String, targetP: Int,
      what: String)(onDiskP: Int): Unit =
    require(targetP >= onDiskP,
      s"$what fan-out at $dir can only GROW (on-disk p=$onDiskP, target " +
        s"$targetP) — a shrink (or a stale binary's old constant) must " +
        "not re-bucket; reseed or migrate explicitly")

  /** Report of one pruned fold — the spec seam for READ-side pruning
    * assertions: `candidateBuckets` is exactly the `want` set the fold
    * passed to BUCKET-pruned [[read]]s (derived from the batch's keys),
    * `dirtyBuckets` what the commit wrote. A 1-key batch must read ≤ 1
    * bucket THROUGH THE BUCKET-PRUNED PATH — but a tenant whose fold is
    * not key-local may ALSO perform reads that bucket pruning cannot
    * bound (e.g. [[DupClusterMaintenance]]'s phase-2 row-pruned scan of
    * the whole label relation's two projected columns); those are
    * counted in `unprunedScans`, so a spec asserting full read pruning
    * must require `unprunedScans == 0`, not just a small candidate
    * set. */
  final case class PrunedFold(candidateBuckets: Set[Int],
                              dirtyBuckets: Set[Int],
                              unprunedScans: Int = 0)

  /** Shared prelude of every fold: resolve the newest manifest and
    * return (on-disk p, manifest), or None when `batchId` already
    * committed. The fan-out belongs to the dir: an existing dir folds at
    * the p its manifest records, and `freshP` only lays out an empty
    * dir. Check order is part of the contract: the layout throw (inside
    * latestManifest), the schema guard, `check` on the on-disk p, and
    * the retry fence LAST — a fence-first order would let a foreign or
    * misconfigured dir whose v= ids collide with incoming batchIds
    * silently swallow those batches as "already folded" instead of
    * failing loudly on the very first trigger. Tenants with a custom
    * read-expansion ([[JoinViewMaintenance]], [[DupClusterMaintenance]])
    * share this copy too. */
  private[streaming] def resolveForFold(spark: SparkSession, dir: String,
      batchId: Long, freshP: Int, schema: StructType, what: String,
      check: Int => Unit = _ => ()): Option[(Int, Map[Int, Long])] = {
    val (p, manifest) = latestManifest(spark, dir) match {
      case Some((v, mp, m)) =>
        verifySchema(spark, dir, v, m, schema, what)
        check(mp)
        (mp, m)
      case None => (freshP, Map.empty[Int, Long])
    }
    if (committed(spark, dir, batchId)) None else Some((p, manifest))
  }

  /** Every "path.to.leaf" in a struct, recursively — nullability and
    * types ignored (a rename/drop is the corruption class; a type change
    * surfaces as a read error on its own). */
  private def fieldPaths(t: StructType, prefix: String = ""): Set[String] =
    t.fields.flatMap { f =>
      val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      dataTypePaths(f.dataType, p)
    }.toSet

  /** Paths within one field's type — recursing through struct fields AND
    * array/map element structs (a rename inside array<struct<...>> is
    * the same corruption class; both sides of the comparison come
    * through here, so the path shapes always align). */
  private def dataTypePaths(dt: org.apache.spark.sql.types.DataType,
      p: String): Set[String] = dt match {
    case s: StructType => fieldPaths(s, p) + p
    case a: org.apache.spark.sql.types.ArrayType =>
      dataTypePaths(a.elementType, s"$p.element")
    case m: org.apache.spark.sql.types.MapType =>
      dataTypePaths(m.valueType, s"$p.value")
    case _ => Set(p)
  }

  /** Dirs whose on-disk schema already passed [[verifySchema]] this
    * process — keyed on (latest version id, expected paths), NOT the dir
    * alone: an out-of-band reseed/migration at the same path (the drift
    * error's own prescribed recovery) changes the latest version id, so
    * a still-alive driver that verified the OLD contents re-verifies the
    * new ones instead of skipping the guard. Within one process the only
    * other writer is this engine, and [[commit]] refreshes the entry to
    * its own new version (same driver-side cost as before: no footer
    * re-inference per micro-batch). A changed expected schema (same dir,
    * different tenant code path) misses the cache and re-verifies. */
  private val verifiedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Set[String])]()

  /** Guard against tenant SCHEMA drift WITHIN the BucketedState layout
    * (a state column renamed or dropped across a deploy — e.g. round
    * 11's vocab key moving from raw shingle strings to fingerprints):
    * the explicit-schema read would silently materialize the renamed
    * column as NULL for every prior row and the next fold would corrupt
    * the state, so verify that some live version's on-disk fields cover
    * the expected non-bucket field PATHS (recursively — a nested rename
    * inside the serving tenant's envelope structs is the same
    * corruption class one level down) BEFORE any read, failing with the
    * reseed-or-migrate posture of the foreign-layout throw. Cost: one
    * driver-side listing + footer inference per resolve.
    *
    * The newest version can be FILELESS (an all-pointer manifest from a
    * no-change batch) — checking nothing there would reopen the hole
    * for exactly the deploy that follows a quiet trigger, so the check
    * walks back through the manifest's referenced versions (newest
    * first) to the first one holding data files; a state with no data
    * files anywhere is legitimately empty. */
  private def verifySchema(spark: SparkSession, dir: String, version: Long,
      manifest: Map[Int, Long], schema: StructType, what: String): Unit = {
    val want = fieldPaths(schema) - BucketCol
    if (verifiedDirs.get(dir) == ((version, want))) return
    val candidates =
      (version +: manifest.values.toSeq.distinct.sorted.reverse).distinct
    val fs = fsOf(spark, dir)
    val checked = candidates.iterator.map { v =>
      // a referenced version whose DIRECTORY is gone is broken state
      // (out-of-band deletion / retention bug) — surface it here at the
      // verification seam, not later as a confusing mid-fold read error
      if (!fs.exists(new Path(s"$dir/v=$v")))
        throw new IllegalStateException(
          s"$what state at $dir references v=$v but the directory is " +
            "missing — state was deleted out-of-band or over-pruned")
      try Some(v ->
        fieldPaths(spark.read.parquet(s"$dir/v=$v").schema))
      catch {
        // fileless version dir (_MANIFEST only): walk back
        case _: org.apache.spark.sql.AnalysisException => None
      }
    }.collectFirst { case Some(va) => va }
    checked.foreach { case (v, actual) =>
      val missing = want -- actual
      if (missing.nonEmpty) throw new IllegalStateException(
        s"$what state at $dir (v=$v) lacks column path(s) " +
          s"${missing.toSeq.sorted.mkString(", ")} — on-disk paths are " +
          s"${actual.toSeq.sorted.mkString(", ")}. The tenant's state schema " +
          "changed across a deploy; reading would null the missing columns " +
          "and corrupt the next fold. Reseed or migrate (SCALE.md: " +
          "state-layout migrations)")
    }
    // cache on walk COMPLETION (data-bearing or legitimately empty): an
    // all-pointer early state would otherwise re-pay the full candidate
    // walk every trigger — and within one process the first data commit
    // comes from this engine with this same schema
    verifiedDirs.put(dir, (version, want)): Unit
  }

  /** Shared tail of every diff-based fold: read the wanted buckets,
    * fold, diff old vs new to find the dirty buckets, commit ONLY
    * those. One copy of the contract — a tenant cannot drift on the
    * empty-dirty guard, the diff direction, or the key-locality check. */
  private def foldAndCommit(spark: SparkSession, dir: String,
      batchId: Long, p: Int, manifest: Map[Int, Long], schema: StructType,
      keyCol: String, growOnly: Boolean, want: Option[Set[Int]])
      (fold: DataFrame => DataFrame): PrunedFold = {
    val prev = read(spark, dir, schema, manifest, want).drop(BucketCol)
    val merged = fold(prev)
      .localCheckpoint() // feeds the diff and the dirty write
    // growOnly (monotone MIN/SUM folds whose rows never vanish or
    // relabel): one-sided diff suffices and skips the second anti-join
    // per trigger; folds that relabel or delete need the symmetric diff
    val appeared = merged.exceptAll(prev).select(col(keyCol))
    val changed =
      if (growOnly) appeared
      else appeared.unionByName(prev.exceptAll(merged).select(col(keyCol)))
    val dirty = changed
      .select(bucketOf(col(keyCol), p).as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    // Key-locality guard for the pruned path: a fold that dirtied a
    // bucket it never READ would publish that bucket from `merged`
    // alone — an INCOMPLETE bucket (its untouched co-hashed keys were
    // never loaded). That only happens when the fold broke the keyed
    // contract (emitted or changed rows for keys outside the batch), so
    // fail loudly instead of silently dropping state.
    want.foreach(cand => require(dirty.subsetOf(cand),
      s"pruned fold dirtied buckets ${(dirty -- cand).toSeq.sorted.mkString(",")} " +
        s"it never read — the fold is not key-local (dirty keys must be " +
        "a subset of the batch's keys)"))
    val dirtyState = merged
      .withColumn(BucketCol, bucketOf(col(keyCol), p))
      .filter(if (dirty.isEmpty) lit(false)
        else col(BucketCol).isin(dirty.toSeq: _*))
    commit(dirtyState, dir, batchId, p, dirty, manifest)
    PrunedFold(want.getOrElse(manifest.keySet), dirty)
  }

  /** The FULL-state fold protocol: hand the previous state (every
    * bucket) to `fold`, diff, commit the dirty buckets. Writes are
    * O(dirty buckets) but compute is O(state) per trigger — kept for
    * folds that genuinely need the whole relation and as the parity
    * baseline the pruned path is spec'd against. Keyed tenants whose
    * fold is per-key (MIN/SUM) should use [[foldCommitPruned]]: same
    * commit discipline, but per-trigger READ + compute are O(batch's
    * buckets), not O(state). `keyCol` is the bucket key; `fold` must
    * return a relation in `schema` minus [[BucketCol]].
    * [[JoinViewMaintenance]] stays OUTSIDE this helper by design: its
    * dirty set derives from the batch's touched keys with
    * partition-pruned reads, never a full-state diff. */
  def foldCommit(spark: SparkSession, dir: String, batchId: Long,
                 freshP: Int, schema: StructType, keyCol: String,
                 what: String, growOnly: Boolean = false)
                (fold: DataFrame => DataFrame): Unit =
    resolveForFold(spark, dir, batchId, freshP, schema, what).foreach {
      case (p, manifest) =>
        foldAndCommit(spark, dir, batchId, p, manifest, schema, keyCol,
          growOnly, want = None)(fold)
    }

  /** Batch-key-PRUNED fold — the form that makes a diff-based tenant's
    * per-trigger cost O(batch), not O(state) (the
    * [[JoinViewMaintenance]] posture generalized to keyed folds):
    * aggregate the batch first (`batchRel`, keyed on `keyCol`), derive
    * the candidate buckets from ITS keys, read ONLY those buckets, fold
    * within them, diff within them, commit the dirty subset.
    *
    * Correct iff the fold is KEY-LOCAL: the post-fold row for key k
    * depends only on prior state rows with key k and batch rows with
    * key k (every per-key MIN/SUM/LWW fold qualifies — for those, dirty
    * keys ⊆ batch keys by construction, which the key-locality guard
    * enforces at run time). Folds where a batch key can relabel OTHER
    * keys (connected components) must expand their read themselves —
    * see [[DupClusterMaintenance]]'s two-phase pruned read.
    *
    * `fold(prunedPrev, batchRel)` sees the FULL content of every
    * candidate bucket (co-hashed keys included) — that completeness is
    * what lets the commit republish a dirty bucket wholesale. Returns
    * the [[PrunedFold]] report (None when the version fence
    * short-circuited a retry). */
  def foldCommitPruned(spark: SparkSession, dir: String, batchId: Long,
                       freshP: Int, schema: StructType, keyCol: String,
                       what: String, growOnly: Boolean = false)
                      (batchRel: DataFrame)
                      (fold: (DataFrame, DataFrame) => DataFrame)
      : Option[PrunedFold] =
    resolveForFold(spark, dir, batchId, freshP, schema, what).map {
      case (p, manifest) =>
        val batch = batchRel
          .localCheckpoint() // feeds candidate derivation AND the fold
        val candidates = batch
          .select(bucketOf(col(keyCol), p).as("b")).distinct()
          .collect().map(_.getInt(0)).toSet // batch-key-bounded collect
        foldAndCommit(spark, dir, batchId, p, manifest, schema, keyCol,
          growOnly, want = Some(candidates))(prev => fold(prev, batch))
    }

  /** One-shot migration of a flat [[VersionedState]] shelf into the
    * bucketed layout — the codified form of the reseed-or-migrate
    * posture the foreign-layout throw prescribes (and the serving
    * bootstrap's v=-1 pattern generalized,
    * [[CdcStreamPipeline.bootstrapEnvelope]]): read the flat shelf's
    * `latestSnapshot`, bucket it on `keyCol`, and commit it at
    * `reservedId` — an id BELOW every id the stream has used or will
    * use (default -1, below engine batch ids by construction) — so the
    * stream's next fold resolves it as ordinary prior state and the
    * retry fence keeps its meaning for every real batch id.
    *
    * Supports in-place cutover (`dir == flatDir`): the old manifest-less
    * `v=` dirs stay honored by [[committed]] as retry fences for the
    * batches already folded into the snapshot (exactly right — a
    * replayed pre-migration batch must skip), resolution ignores them
    * (no `_MANIFEST`), and the first post-migration commits age them out
    * through reference-driven pruning. Unmigrated dirs keep the loud
    * foreign-layout throw — this helper is the only sanctioned bridge.
    *
    * `schema`'s non-bucket fields are SELECTED from the snapshot (not
    * inferred), so a flat shelf that drifted from the tenant's expected
    * columns fails loudly at analysis instead of materializing NULLs —
    * the same guarantee [[verifySchema]] gives live tenants.
    *
    * FRESH-DIR PRECONDITION (`dir != flatDir`): pair the migration with
    * a FRESH stream checkpoint unless the tenant's fold is idempotent.
    * The new dir carries no `v=` retry fences for the batches already
    * folded into the flat snapshot, so reusing the OLD checkpoint
    * replays those pre-migration batches into the migrated state — a
    * non-idempotent fold (SUM, MG counters) double-counts them
    * silently. In-place cutover has no such hazard: the flat shelf's
    * own `v=` dirs keep fencing exactly those ids (the mirror of
    * [[CdcStreamPipeline.rebuildServingFromArchive]]'s precondition
    * 2 — round-12 ADVICE item 4). */
  def migrateFromVersionedState(spark: SparkSession, flatDir: String,
      dir: String, schema: StructType, keyCol: String, numBuckets: Int,
      reservedId: Long = -1L): Unit = {
    val snap = VersionedState.latestSnapshot(spark, flatDir).getOrElse(
      throw new IllegalStateException(
        s"no flat VersionedState snapshot under $flatDir to migrate"))
    val fs = fsOf(spark, dir)
    val existing =
      if (!fs.exists(new Path(dir))) Seq.empty
      else fs.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("v=")).flatMap(_.stripPrefix("v=").toLongOption)
    require(existing.forall(v => !fs.exists(manifestPath(v, dir))),
      s"$dir already holds a BucketedState manifest — refusing to migrate " +
        "over a live bucketed tenant")
    // the "old v= dirs stay honored as retry fences" reasoning holds
    // ONLY in place, where those ids ARE the flat shelf's own folded
    // batches — a fresh-dir migration must not adopt unrelated debris
    // as fences (batches 0..k of the new stream would silently skip)
    require(dir == flatDir || existing.isEmpty,
      s"fresh-dir migration target $dir is not empty (v= ids " +
        s"${existing.sorted.mkString(",")}) — foreign version dirs would " +
        "fence batches that were never folded; migrate in place or pick " +
        "an empty target")
    require(existing.forall(_ > reservedId),
      s"migration reservedId=$reservedId must be below every existing v= " +
        s"id under $dir (found ${existing.sorted.mkString(",")}) — the " +
        "reserved id must precede the stream's whole sequence")
    val cols = schema.fieldNames.filterNot(_ == BucketCol).map(col)
    val bucketed = snap.select(cols.toSeq: _*)
      .withColumn(BucketCol, bucketOf(col(keyCol), numBuckets))
    commit(bucketed, dir, reservedId, numBuckets,
      (0 until numBuckets).toSet, Map.empty)
  }

  /** Newest committed full state of a tenant: every bucket at the
    * on-disk p, behind the schema guard. */
  def readState(spark: SparkSession, dir: String, schema: StructType,
                what: String): DataFrame =
    read(spark, dir, schema, resolve(spark, dir, schema, what)._2, None)

  /** The readers' one resolve: the newest manifest as (on-disk p,
    * bucket → owning version), behind the schema guard — a wrong,
    * foreign or empty dir fails loudly, never reads as "no rows". A
    * reader that derives buckets from keys uses THIS p, so it reads the
    * layout that exists, across grows. */
  private[streaming] def resolve(spark: SparkSession, dir: String,
      schema: StructType, what: String): (Int, Map[Int, Long]) = {
    val (v, p, manifest) = latestManifest(spark, dir).getOrElse(
      throw new IllegalStateException(s"no $what state under $dir"))
    verifySchema(spark, dir, v, manifest, schema, what)
    (p, manifest)
  }

  /** Spec hook: the data files the latest [[readLocal]] opened. */
  private[graft] val lastFilesOpened =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

  /** Driver-side read of `buckets` under a resolved `manifest`: opens
    * only the files under `v=<owner>/bucket=<b>/` with Spark's own
    * parquet reader, in this thread — no Spark job — and keeps what
    * `pick` returns for each row (`schema` minus [[BucketCol]], in
    * order). A row is valid only during its `pick` call: the reader
    * reuses it. A referenced version dir that is missing throws (state
    * deleted out of band or over-pruned must not read as "absent"); a
    * missing bucket dir inside it is a bucket without rows, which the
    * partitioned write leaves dirless. */
  private[streaming] def readLocal[T](spark: SparkSession, dir: String,
      schema: StructType, manifest: Map[Int, Long], buckets: Set[Int])
      (pick: org.apache.spark.sql.catalyst.InternalRow => Option[T]): Seq[T] = {
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val fs = fsOf(spark, dir)
    val files = manifest.filter(e => buckets(e._1)).groupBy(_._2).toSeq
      .flatMap { case (v, owned) =>
        val vDir = new Path(s"$dir/v=$v")
        if (!fs.exists(vDir)) throw new IllegalStateException(
          s"state at $dir references v=$v but the directory is missing — " +
            "state was deleted out-of-band or over-pruned")
        owned.keys.toSeq.map(b => new Path(vDir, s"$BucketCol=$b"))
          .filter(fs.exists)
          .flatMap(fs.listStatus(_).toSeq)
          .filter { f =>
            val n = f.getPath.getName
            f.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
      }
    lastFilesOpened.set(files.map(_.getPath.toString))
    if (files.isEmpty) Nil
    else {
      val dataSchema = StructType(schema.filterNot(_.name == BucketCol))
      val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, dataSchema, new StructType(), dataSchema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        new org.apache.hadoop.conf.Configuration(
          spark.sparkContext.hadoopConfiguration))
      files.flatMap { f =>
        val rows = reader(PartitionedFile(
          org.apache.spark.sql.catalyst.InternalRow.empty,
          org.apache.spark.paths.SparkPath.fromPath(f.getPath), 0L,
          f.getLen, Array.empty, f.getModificationTime, f.getLen, Map.empty))
        // no task context closes the reader here: close it ourselves
        try rows.flatMap(pick).toList
        finally rows match {
          case c: AutoCloseable => c.close()
          case _ =>
        }
      }
    }
  }

  /** Buckets materialized under one version directory — the spec hook for
    * the partition-count assertion (a batch that dirties k buckets must
    * write exactly k `bucket=` directories). */
  def bucketDirs(spark: SparkSession, dir: String, version: Long): Set[Int] = {
    val fs = fsOf(spark, dir)
    fs.listStatus(new Path(s"$dir/v=$version")).toSeq
      .map(_.getPath.getName).filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toInt).toSet
  }
}
