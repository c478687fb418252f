package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The versioned-directory commit every versioned tenant publishes
  * through: the flat shelves (one whole snapshot per version, through
  * [[fold]]), [[BucketedState]] (dirty buckets plus a `_MANIFEST`) and
  * the IVF tenant (a whole index tree). A state dir holds committed
  * versions `v=<id>` and, while one is being built, `.staging-<id>`.
  *
  * Invariants:
  *  - a version becomes visible by ONE rename of its complete staging
  *    dir, so a reader sees a whole version or none, and a crash before
  *    the rename leaves only a staging dir no reader lists;
  *  - `v=<id>` present means batch `id` committed: a retry finds it
  *    ([[committed]]) and skips, which keeps non-idempotent folds (SUM
  *    rollups, MG counters) from double-counting under at-least-once
  *    execution; a retry that built its staging anyway deletes it;
  *  - after each publish, stagings of older ids are reaped and every
  *    older version is pruned unless one of the newest [[Retained]]
  *    versions references it (a version references itself and, when it
  *    carries a `_MANIFEST`, every version that manifest names), so a
  *    reader that resolved one of those versions keeps its files. */
object VersionedState {

  /** Read horizon: the newest versions whose references survive a
    * publish. */
  private val Retained = 4

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The id of a `<prefix><id>` entry; stray non-numeric debris is not
    * an id (and not a crash loop). */
  private def idOf(prefix: String)(name: String): Option[Long] =
    if (name.startsWith(prefix)) name.stripPrefix(prefix).toLongOption
    else None

  /** Names directly under `dir`; none when it does not exist yet. */
  private def entries(fs: FileSystem, dir: String): Seq[String] =
    try fs.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Committed version ids under `dir`, in one listing. */
  def listVersions(spark: SparkSession, dir: String): Seq[Long] =
    entries(fsOf(spark, dir), dir).flatMap(idOf("v="))

  def latest(spark: SparkSession, dir: String): Option[Long] =
    listVersions(spark, dir).maxOption

  /** True when `batchId` already committed — the retry fence. */
  private[graft] def committed(spark: SparkSession, dir: String,
                               batchId: Long): Boolean =
    fsOf(spark, dir).exists(new Path(s"$dir/v=$batchId"))

  /** Where version `version` is built before [[publish]]. */
  def stagingPath(dir: String, version: Long): String =
    s"$dir/.staging-$version"

  /** The ONE reader of the `_MANIFEST` format (line 1 `p=<buckets>`,
    * then `<bucket>=<version>` per bucket), for [[BucketedState]]'s
    * resolution and for retention alike: a second parser in the prune
    * path is how a format change deletes a still-referenced version.
    * None when the version carries no manifest. */
  private[streaming] def manifest(spark: SparkSession, dir: String,
      version: Long): Option[(Int, Map[Int, Long])] = {
    val opened =
      try Some(fsOf(spark, dir).open(new Path(s"$dir/v=$version/_MANIFEST")))
      catch { case _: java.io.FileNotFoundException => None }
    opened.map { in =>
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = text.linesIterator.filter(_.nonEmpty).toSeq
      val owners = lines.tail.map { l =>
        val Array(b, ver) = l.split("=", 2)
        b.toInt -> ver.toLong
      }.toMap
      (lines.head.stripPrefix("p=").toInt, owners)
    }
  }

  /** Write the `_MANIFEST` of a version being built at `staging`. */
  private[streaming] def writeManifest(spark: SparkSession, staging: String,
      p: Int, owners: Map[Int, Long]): Unit = {
    val out = fsOf(spark, staging).create(new Path(staging, "_MANIFEST"), true)
    try out.write(
      (s"p=$p" +: owners.toSeq.sorted.map { case (b, v) => s"$b=$v" })
        .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Publish the complete [[stagingPath]] of `version` as `v=<version>`
    * (or drop it when a retry already published), then reap older
    * stagings and prune older versions outside the retention rule —
    * from one listing of `dir`. */
  def publish(spark: SparkSession, dir: String, version: Long): Unit = {
    val fs = fsOf(spark, dir)
    val target = new Path(s"$dir/v=$version")
    val staging = new Path(stagingPath(dir, version))
    if (fs.exists(target)) fs.delete(staging, true)
    else require(fs.rename(staging, target),
      s"rename $staging -> $target failed")
    val names = entries(fs, dir)
    names.flatMap(idOf(".staging-")).filter(_ < version)
      .foreach(s => fs.delete(new Path(stagingPath(dir, s)), true))
    val versions = names.flatMap(idOf("v=")).sorted.reverse
    val live = versions.take(Retained).flatMap { v =>
      v +: manifest(spark, dir, v).toSeq.flatMap(_._2.values)
    }.toSet
    versions.filter(v => v < version && !live(v))
      .foreach(v => fs.delete(new Path(s"$dir/v=$v"), true))
  }

  private def latestSnapshot(spark: SparkSession, dir: String)
      : Option[DataFrame] =
    latest(spark, dir).map(v => spark.read.parquet(s"$dir/v=$v"))

  /** The flat fold: unless `batchId` already committed, hand the newest
    * snapshot (None on an empty dir) to `merge` and publish what it
    * returns as the whole state at `batchId`. */
  def fold(spark: SparkSession, dir: String, batchId: Long)
          (merge: Option[DataFrame] => DataFrame): Unit =
    if (!committed(spark, dir, batchId)) {
      merge(latestSnapshot(spark, dir)).write.mode("overwrite")
        .parquet(stagingPath(dir, batchId))
      publish(spark, dir, batchId)
    }

  /** Newest committed flat snapshot; throws when there is none. */
  def readState(spark: SparkSession, dir: String, what: String): DataFrame =
    latestSnapshot(spark, dir).getOrElse(
      throw new IllegalStateException(s"no $what state under $dir"))
}
