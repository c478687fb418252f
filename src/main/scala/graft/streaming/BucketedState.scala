package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Key-partitioned versioned state. State rows hash-partition into the
  * p buckets the newest manifest records (`bucket = pmod(xxhash64(key),
  * p)`); each version directory carries ONLY the buckets its batch
  * dirtied, and its `_MANIFEST` maps every bucket to the version that
  * last rewrote it. Per-trigger write cost is O(dirty buckets), readers
  * resolve the manifest and read only the buckets they need, and
  * untouched buckets carry forward as pointers, never copies.
  *
  * Commit: the dirty buckets and the manifest are built in
  * [[VersionedState.stagingPath]] and published by
  * [[VersionedState.publish]], so the exactly-once rules are the flat
  * shelves' rules: a torn write is invisible (no manifest under a `v=`
  * name before the rename), a retried batch whose version landed
  * short-circuits on the version fence, and a retry that lost the
  * rename race rebuilt identical content (the fold is deterministic
  * from the prior manifest and the batch). Retention keeps every
  * version the newest manifests reference: a pointer can reach
  * arbitrarily far back (a never-touched bucket), so it is
  * reference-driven, never age-driven. */
object BucketedState {

  /** Partition column name every bucketed tenant shares. */
  val BucketCol = "bucket"

  /** Deterministic bucket of a state key — MUST be the same expression at
    * write (layout) and update (dirty-set) time. */
  def bucketOf(key: Column, p: Int): Column =
    pmod(xxhash64(key), lit(p)).cast("int")

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Spec hook: count of manifest resolutions ([[latestManifest]]
    * calls) — a BATCHED point lookup must resolve exactly once for its
    * whole key set (the PrunedFold counting discipline, read-side). */
  private[graft] val manifestResolutions =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Newest committed manifest: (version, p, bucket → owning version).
    * None ONLY when no state exists yet; a dir holding `v=` versions
    * none of which carry a manifest is a FOREIGN layout (e.g. a flat
    * VersionedState shelf) and throws — silently treating it as empty
    * would discard the prior state in the next fold while the version
    * fence still honored its version numbers. */
  def latestManifest(spark: SparkSession, dir: String)
      : Option[(Long, Int, Map[Int, Long])] = {
    manifestResolutions.incrementAndGet()
    val versions = VersionedState.listVersions(spark, dir)
    val newest = versions.sorted.reverse.iterator.flatMap { v =>
      VersionedState.manifest(spark, dir, v).map { case (p, m) => (v, p, m) }
    }.nextOption()
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
    val staging = VersionedState.stagingPath(dir, batchId)
    dirtyState.write.mode("overwrite")
      .partitionBy(BucketCol).parquet(staging)
    VersionedState.writeManifest(spark, staging, p,
      priorManifest ++ dirtyBuckets.map(_ -> batchId))
    VersionedState.publish(spark, dir, batchId)
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
    * Retention is the ordinary [[VersionedState.publish]] horizon: a live reader
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
    * every trigger; a shrink is a reseed, never a trigger.
    * Passed as [[resolveForFold]]'s check, so it runs before the retry
    * fence. */
  private[streaming] def requireGrow(dir: String, targetP: Int,
      what: String)(onDiskP: Int): Unit =
    require(targetP >= onDiskP,
      s"$what fan-out at $dir can only GROW (on-disk p=$onDiskP, target " +
        s"$targetP) — a shrink (or a stale binary's old constant) must " +
        "not re-bucket; reseed explicitly")

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
    if (VersionedState.committed(spark, dir, batchId)) None
    else Some((p, manifest))
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
    * alone: an out-of-band reseed at the same path (the drift
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
    * reseed posture of the foreign-layout throw. Cost: one
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
          "and corrupt the next fold. Reseed it (SCALE.md: " +
          "state-layout migrations)")
    }
    // cache on walk COMPLETION (data-bearing or legitimately empty): an
    // all-pointer early state would otherwise re-pay the full candidate
    // walk every trigger — and within one process the first data commit
    // comes from this engine with this same schema
    verifiedDirs.put(dir, (version, want)): Unit
  }

  /** Tail of the pruned fold: read the wanted buckets, fold, diff new
    * against old to find the dirty buckets, commit ONLY those. The diff
    * is one-sided: a fold through here never deletes a key, so every
    * changed key appears in `merged` as a row `prev` lacks. */
  private def foldAndCommit(spark: SparkSession, dir: String,
      batchId: Long, p: Int, manifest: Map[Int, Long], schema: StructType,
      keyCol: String, want: Set[Int])
      (fold: DataFrame => DataFrame): PrunedFold = {
    val prev = read(spark, dir, schema, manifest, Some(want))
      .drop(BucketCol)
    val merged = fold(prev)
      .localCheckpoint() // feeds the diff and the dirty write
    val dirty = merged.exceptAll(prev)
      .select(bucketOf(col(keyCol), p).as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    // Key-locality guard: a fold that dirtied a bucket it never READ
    // would publish that bucket from `merged` alone — an INCOMPLETE
    // bucket (its untouched co-hashed keys were never loaded). That only
    // happens when the fold broke the keyed contract (emitted or changed
    // rows for keys outside the batch), so fail loudly instead of
    // silently dropping state.
    require(dirty.subsetOf(want),
      s"pruned fold dirtied buckets ${(dirty -- want).toSeq.sorted.mkString(",")} " +
        s"it never read — the fold is not key-local (dirty keys must be " +
        "a subset of the batch's keys)")
    val dirtyState = merged
      .withColumn(BucketCol, bucketOf(col(keyCol), p))
      .filter(if (dirty.isEmpty) lit(false)
        else col(BucketCol).isin(dirty.toSeq: _*))
    commit(dirtyState, dir, batchId, p, dirty, manifest)
    PrunedFold(want, dirty)
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
                       what: String)
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
          candidates)(prev => fold(prev, batch))
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
