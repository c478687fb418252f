package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.cdc.{Envelope, Materialize}
import graft.streaming.CdcStreamPipeline
import graft.streaming.CdcStreamPipeline.Sinks
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming layer (S7-S12, O32/O33): fixture replay through the file
  * source, dual-sink parity with the batch materializer, DLQ routing,
  * idempotence under duplicate delivery, and watermark late-data drops. */
class StreamingSpec extends SparkTestBase {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Data files under the keys' `bucket=<b>/` dirs in the versions the
    * newest manifest names as their owners — the files a point lookup of
    * `keys` must open, and the only ones. */
  private def keyBucketFiles(servingDir: String,
      keys: Seq[(String, String, Long)]): Set[String] = {
    import graft.streaming.BucketedState
    import org.apache.hadoop.fs.Path
    val (_, p, owners) = BucketedState.latestManifest(spark, servingDir).get
    val fs = new Path(servingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    keys.map { case (s0, t0, k0) =>
      spark.range(1).select(BucketedState.bucketOf(
        xxhash64(lit(s0), lit(t0), lit(k0)), p)).collect().head.getInt(0)
    }.toSet.flatMap { (b: Int) =>
      val d = new Path(s"$servingDir/v=${owners(b)}/${BucketedState.BucketCol}=$b")
      if (!fs.exists(d)) Set.empty[String]
      else fs.listStatus(d).map(_.getPath).filterNot(q =>
        q.getName.startsWith("_") || q.getName.startsWith(".")).map(_.toString)
    }
  }

  private def runPipeline(sourceDir: String, root: String): Sinks = {
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")
    val lines = spark.readStream.text(sourceDir)
    val (main, dlq) = CdcStreamPipeline.start(lines, sinks,
      Trigger.AvailableNow())
    assert(main.awaitTermination(120000), "stream did not finish in 120s")
    assert(dlq.awaitTermination(120000), "stream did not finish in 120s")
    sinks
  }

  /** Five lines the DLQ must take: two unparseable, a data record
    * without a row image, a null record-type, a malformed timestamp. */
  private val corruptLines =
    "this is not json\n{\"also\": \"not an envelope\"\n" +
    // parseable metadata but no row image: a data record that must hit
    // the DLQ, not materialize a null-key serving row
    """{"metadata": {"timestamp": "2022-03-14T14:59:59.000000Z", "record-type": "data", "operation": "insert", "partition-key-type": "primary-key", "schema-name": "testdb", "table-name": "retail_trans", "transaction-id": 999999}}""" + "\n" +
    // metadata present but record-type null: the three-valued-logic
    // trap — must reach the DLQ, not vanish from both streams
    """{"metadata": {"timestamp": "2022-03-14T14:59:58.000000Z"}}""" + "\n" +
    // present-but-MALFORMED timestamp: under ANSI mode a plain
    // to_timestamp would throw and crash-loop the stream — must DLQ
    """{"data": {"trans_id": 9, "customer_id": "x", "event": "visit", "sku": "AA0000AAAA", "amount": 1, "device": "pc", "trans_datetime": "2022-03-14T00:00:00Z"}, "metadata": {"timestamp": "not-a-timestamp", "record-type": "data", "operation": "insert", "partition-key-type": "primary-key", "schema-name": "testdb", "table-name": "retail_trans", "transaction-id": 999998}}""" + "\n"

  test("fixture replay: streaming serving snapshot == batch materialization; corrupt lines hit the DLQ") {
    val src = tmpDir("cdc_src")
    Files.copy(Paths.get(Tables.cdcFixturePath),
      Paths.get(s"$src/cdc.jsonl"), StandardCopyOption.REPLACE_EXISTING)
    Files.writeString(Paths.get(s"$src/bad.jsonl"), corruptLines)
    val listener = new graft.streaming.MetricsListener
    spark.streams.addListener(listener)
    val t0 = System.nanoTime()
    val sinks = runPipeline(src, tmpDir("cdc_out"))
    val recPerSec = 613.0 / ((System.nanoTime() - t0) / 1e9)
    // Reference offered load is ~0.33 rec/s (1 insert / 3 s,
    // gen_fake_mysql_data.py:99-102) with 5-10 min end-to-end visibility;
    // the full parse→dedup→dual-sink replay must sustain far more even in
    // a 4-core test session.
    info(f"streaming replay throughput: $recPerSec%.0f rec/s (reference offered load: 0.33 rec/s)")
    assert(recPerSec > 10.0)

    val streaming = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
    val batch = Materialize.snapshot(
      Envelope.changelog(spark, Tables.cdcFixturePath))
    assert(streaming.count() === 210)
    assert(streaming.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streaming).count() === 0)

    // S10 archive: all 600 selected changes, UTC hour-partitioned
    val archive = spark.read.parquet(sinks.archive)
    assert(archive.count() === 600)
    assert(archive.columns.toSet.intersect(
      Set("year", "month", "day", "hour")).size === 4)
    // partition pruning: an hour-bounded read must push a PartitionFilter
    // (the dashboard query path over the archive at 100 TB)
    val pruned = archive.filter(col("hour") === "14")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(hour"),
      s"hour filter not pushed to partition pruning:\n$plan")
    assert(pruned.count() === 600) // fixture spans a single UTC hour

    // S11 DLQ: 2 unparseable lines + the data record with no row image +
    // the record-type-null envelope + the malformed-timestamp record —
    // every corrupt line, none dropped, nothing crashed
    assert(spark.read.text(sinks.error).count() === 5)
    // ...and no null-key row leaked into serving state
    assert(streaming.filter(col("trans_id").isNull).count() === 0)

    // observability (SURVEY §3.2 stage 6): the listener saw every input
    // line on both queries (main + DLQ each scan the 618-line source)
    spark.streams.removeListener(listener)
    assert(listener.totalInputRows === 1236,
      s"listener counted ${listener.totalInputRows} input rows")
  }

  test("DLQ: a batch without a corrupt line leaves no error dir; the corrupt lines still land") {
    val src = tmpDir("cdc_dlq_src")
    Files.copy(Paths.get(Tables.cdcFixturePath),
      Paths.get(s"$src/a_clean.jsonl"), StandardCopyOption.REPLACE_EXISTING)
    Files.writeString(Paths.get(s"$src/b_bad.jsonl"), corruptLines)
    val root = tmpDir("cdc_dlq_out")
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")
    // one file per trigger: one clean batch and one with the 5 lines
    val lines = spark.readStream.option("maxFilesPerTrigger", 1).text(src)
    val (main, dlq) = CdcStreamPipeline.start(lines, sinks,
      Trigger.AvailableNow())
    assert(main.awaitTermination(120000) && dlq.awaitTermination(120000))
    assert(dlq.recentProgress.count(_.numInputRows > 0) === 2)
    val errDirs = new java.io.File(sinks.error).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id="))
    assert(errDirs.length === 1,
      s"a clean batch left an error dir: ${errDirs.toSeq}")
    assert(spark.read.text(sinks.error).count() === 5)
  }
  test("serving rebuild from archive: a wiped serving dir recovers byte-equal from the archive sink; checkpoint replays after recovery are no-ops") {
    import graft.streaming.BucketedState
    // normal life: the full fixture through the real pipeline
    val src = tmpDir("srv_dr_src")
    Files.copy(Paths.get(Tables.cdcFixturePath),
      Paths.get(s"$src/cdc.jsonl"), StandardCopyOption.REPLACE_EXISTING)
    val sinks = runPipeline(src, tmpDir("srv_dr_out"))
    val before = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
      .collect().toSet
    assert(before.size === 210)

    // disaster: the serving state is lost
    val fs = new org.apache.hadoop.fs.Path(sinks.serving)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(sinks.serving), true))

    // recovery: rebuild from the archive (the dual-sink payoff) — the
    // serving view must come back EXACTLY, tombstone semantics included
    CdcStreamPipeline.rebuildServingFromArchive(spark, sinks)
    assert(CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
      .collect().toSet === before)
    assert(BucketedState.latestManifest(spark, sinks.serving).get._1 === -1L,
      "rebuild must seed below the stream's whole id sequence")

    // a restarted stream replays its last batch (checkpoint behind the
    // archive): the LWW merge makes the refold a no-op on the seed
    val batch = CdcStreamPipeline.parseLines(
      spark.read.text(Tables.cdcFixturePath))
    CdcStreamPipeline.sinkBatch(sinks)(batch, 0L)
    assert(CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
      .collect().toSet === before)
  }

  test("serving point lookup: bucket-pruned key read matches the snapshot; tombstoned and absent keys read empty; only the key's bucket is touched") {
    import graft.streaming.BucketedState
    val src = tmpDir("srv_lookup_src")
    Files.copy(Paths.get(Tables.cdcFixturePath),
      Paths.get(s"$src/cdc.jsonl"), StandardCopyOption.REPLACE_EXISTING)
    val sinks = runPipeline(src, tmpDir("srv_lookup_out"))
    val snap = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
      .collect().map(r => r.getLong(r.fieldIndex("trans_id")) -> r).toMap

    // live keys: the lookup returns exactly the snapshot's row
    snap.keys.take(5).foreach { pk =>
      val got = CdcStreamPipeline.servingLookup(spark, sinks.serving,
        "testdb", "retail_trans", pk).collect()
      assert(got.length === 1, s"lookup($pk) returned ${got.length} rows")
      assert(got.head === snap(pk), s"lookup($pk) row mismatch")
    }

    // a tombstoned key (in the changelog, absent from the live view)
    // and a never-seen key both read EMPTY, not an error
    val deleted = Envelope.changelog(spark, Tables.cdcFixturePath)
      .select(col("data.trans_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).filterNot(snap.contains).head
    assert(CdcStreamPipeline.servingLookup(spark, sinks.serving,
      "testdb", "retail_trans", deleted).isEmpty)
    assert(CdcStreamPipeline.servingLookup(spark, sinks.serving,
      "testdb", "retail_trans", 999999999L).isEmpty)

    // I/O: the lookup opens exactly the files of the key's bucket in
    // its owning version — the read-side payoff of the layout
    // (O(state/p) per point query at any size) — and answers as a local
    // relation, so collecting it runs no Spark job
    val pk = snap.keys.head
    val one = CdcStreamPipeline.servingLookup(spark, sinks.serving,
      "testdb", "retail_trans", pk)
    val expected = keyBucketFiles(sinks.serving,
      Seq(("testdb", "retail_trans", pk)))
    assert(expected.nonEmpty &&
      BucketedState.lastFilesOpened.get().toSet === expected,
      s"lookup opened ${BucketedState.lastFilesOpened.get()}, want $expected")
    assert(one.queryExecution.executedPlan.isInstanceOf[
      org.apache.spark.sql.execution.LocalTableScanExec],
      one.queryExecution.executedPlan.toString)
    assert(one.collect().toSeq === Seq(snap(pk)))
  }

  test("serving rebuild with a bootstrap seed: archive-only rebuild loses seed-only keys (the documented hazard); seedEnv restores full parity") {
    import graft.cdc.Bootstrap
    // a seed whose keys the CDC log NEVER touches — the rows only the
    // bootstrap ever wrote, which the archive (stream-fed only) lacks
    val loadTs = "2022-03-14T14:01:12.193068Z"
    val log = Envelope.changelog(spark, Tables.cdcFixturePath)
    val seedSnap = Materialize.snapshot(
        log.filter(col("metadata.timestamp") <= loadTs))
      .withColumn("trans_id", col("trans_id") + lit(900000))
    val nSeed = seedSnap.count()
    assert(nSeed > 0)

    val root = tmpDir("srv_dr_boot_out")
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")
    CdcStreamPipeline.bootstrap(seedSnap, loadTs, sinks)
    val src = tmpDir("srv_dr_boot_src")
    Files.copy(Paths.get(Tables.cdcFixturePath),
      Paths.get(s"$src/cdc.jsonl"), StandardCopyOption.REPLACE_EXISTING)
    val (main, dlq) = CdcStreamPipeline.start(
      spark.readStream.text(src), sinks, Trigger.AvailableNow())
    assert(main.awaitTermination(120000), "stream did not finish in 120s")
    assert(dlq.awaitTermination(120000), "stream did not finish in 120s")
    val before = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
      .collect().toSet
    assert(before.size === 210 + nSeed)

    val fs = new org.apache.hadoop.fs.Path(sinks.serving)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def wipe(): Unit =
      assert(fs.delete(new org.apache.hadoop.fs.Path(sinks.serving), true))

    // archive-only rebuild: the stream-fed archive never saw the seed,
    // so the seed-only keys are GONE — precisely why seedEnv exists
    wipe()
    CdcStreamPipeline.rebuildServingFromArchive(spark, sinks)
    assert(CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
      .count() === 210)

    // seed-aware rebuild: byte-equal recovery, boundary resolved by the
    // same LWW stamps that resolved it live
    wipe()
    CdcStreamPipeline.rebuildServingFromArchive(spark, sinks,
      seedEnv = Some(Bootstrap.asLoadEnvelope(seedSnap, loadTs)))
    assert(CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
      .collect().toSet === before)
  }

  test("serving fan-out re-bucket: a fold at a larger p re-homes every bucket at its id; retry fences; merges resume at the new p; shrink refused; readers follow the on-disk p") {
    import graft.streaming.BucketedState
    val lines = Files.readAllLines(Paths.get(Tables.cdcFixturePath))
    val (a, b) = (0 until lines.size).partition(_ % 2 == 0)
    val pa = tmpDir("srv_rb_a"); val pb = tmpDir("srv_rb_b")
    Files.write(Paths.get(s"$pa/a.jsonl"),
      a.map(lines.get).mkString("\n").getBytes)
    Files.write(Paths.get(s"$pb/b.jsonl"),
      b.map(lines.get).mkString("\n").getBytes)
    val batchA = CdcStreamPipeline.parseLines(spark.read.text(s"$pa/a.jsonl"))
    val batchB = CdcStreamPipeline.parseLines(spark.read.text(s"$pb/b.jsonl"))
    // what sinkBatch hands the serving fold: the selected envelopes
    val goodB = batchB.filter(Envelope.selection(Envelope.defaultRules))
    val root = tmpDir("srv_rb_out")
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")

    // life at the default fan-out
    CdcStreamPipeline.sinkBatch(sinks)(batchA, 0L)
    assert(BucketedState.latestManifest(spark, sinks.serving).get._2 ===
      CdcStreamPipeline.ServingBuckets)

    // a binary whose ServingBuckets is 32: its NEXT fold both folds the
    // batch and re-homes every row under p=32 (SCALE.md sizes the
    // serving fan-out by state volume — this is the growth path)
    CdcStreamPipeline.foldServing(goodB, sinks.serving, 1L, 32)
    val (v1, p1, m1) = BucketedState.latestManifest(spark, sinks.serving).get
    assert(v1 === 1L && p1 === 32)
    assert(m1 === (0 until 32).map(_ -> 1L).toMap,
      "every new-fan-out bucket must re-home at the re-bucket id")
    val served = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
    val oneShot = Materialize.snapshot(
      Envelope.changelog(spark, Tables.cdcFixturePath))
    assert(served.count() === 210)
    assert(served.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(served).count() === 0)

    // retried re-bucket fold: the version fence short-circuits
    CdcStreamPipeline.foldServing(goodB, sinks.serving, 1L, 32)
    assert(BucketedState.latestManifest(spark, sinks.serving).get._1 === 1L)

    // merges resume normally at the new fan-out (a replayed batch is
    // LWW-idempotent; its dirty buckets live under the new p)
    CdcStreamPipeline.foldServing(goodB, sinks.serving, 2L, 32)
    val dirs2 = BucketedState.bucketDirs(spark, sinks.serving, 2L)
    assert(dirs2.nonEmpty && dirs2.subsetOf((0 until 32).toSet))
    assert(BucketedState.latestManifest(spark, sinks.serving).get._2 === 32)

    // readers name no fan-out: both full views resolve p=32 from the
    // manifest and answer
    val after = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
    assert(after.count() === 210)
    assert(after.exceptAll(oneShot).count() === 0)
    val tables = CdcStreamPipeline.servingTables(spark, sinks.serving)
    assert(tables.count() === 210)
    assert(tables.drop("sch", "tbl").exceptAll(oneShot).count() === 0)

    // a WRITER below the on-disk p is refused: this binary's constant
    // (16) is what a stale binary or the zombie half of a rolling deploy
    // carries, and grow-only is what stops two binaries re-bucketing the
    // full state back and forth every trigger
    val shrink = intercept[IllegalArgumentException] {
      CdcStreamPipeline.sinkBatch(sinks)(batchB, 3L)
    }
    assert(shrink.getMessage.contains("GROW"))
    assert(BucketedState.latestManifest(spark, sinks.serving).get._1 === 2L)

    // point lookups derive the bucket from the on-disk p: they answered
    // at p=16 before the grow, and answer at p=32 now
    val anyPk = after.collect().head.getLong(0)
    assert(CdcStreamPipeline.servingLookup(spark, sinks.serving,
      "testdb", "retail_trans", anyPk).count() === 1)
  }

  test("multi-batch incremental merge equals one-shot materialization") {
    // split the fixture across two files and force one file per trigger →
    // the serving state is built by two successive merges, which must
    // converge to the same snapshot as materializing everything at once
    val lines = Files.readAllLines(Paths.get(Tables.cdcFixturePath))
    val src = tmpDir("cdc_split")
    val (a, b) = (0 until lines.size).partition(_ % 2 == 0)
    Files.write(Paths.get(s"$src/a.jsonl"),
      a.map(lines.get).mkString("\n").getBytes)
    Files.write(Paths.get(s"$src/b.jsonl"),
      b.map(lines.get).mkString("\n").getBytes)

    val root = tmpDir("cdc_split_out")
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")
    val src2 = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
    val (main, dlq) = CdcStreamPipeline.start(src2, sinks,
      Trigger.AvailableNow())
    assert(main.awaitTermination(120000), "stream did not finish in 120s")
    assert(dlq.awaitTermination(120000), "stream did not finish in 120s")

    val streaming = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
    val batch = Materialize.snapshot(
      Envelope.changelog(spark, Tables.cdcFixturePath))
    assert(streaming.count() === 210)
    assert(streaming.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streaming).count() === 0)
  }

  test("rotation periods derive the documented archive layouts and prune on read (S12)") {
    import graft.streaming.CdcStreamPipeline.Rotation
    val batch = CdcStreamPipeline.parseLines(
      spark.read.text(Tables.cdcFixturePath))
    def dirsFor(rot: Rotation): (Seq[String], String) = {
      val root = tmpDir(s"cdc_rot")
      val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
        s"$root/checkpoint")
      CdcStreamPipeline.sinkBatch(sinks, rotation = rot)(batch, 0L)
      val dirs = new java.io.File(s"${sinks.archive}/batch_id=0").listFiles()
        .map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
        .sorted.toSeq
      (dirs, sinks.archive)
    }

    // NoRotation = the reference's deployed hourly prefix (4-level)
    val (hourDirs, _) = dirsFor(Rotation.NoRotation)
    assert(hourDirs === Seq("year=2022"))

    // each rotated period derives ONE calendar partition key; the fixture
    // spans a single UTC hour on 2022-03-14 (a Monday)
    assert(dirsFor(Rotation.OneHour)._1 === Seq("rotation=2022-03-14-14"))
    assert(dirsFor(Rotation.OneDay)._1 === Seq("rotation=2022-03-14"))
    assert(dirsFor(Rotation.OneWeek)._1 === Seq("rotation=2022-03-14"))
    val (monthDirs, monthArchive) = dirsFor(Rotation.OneMonth)
    assert(monthDirs === Seq("rotation=2022-03"))

    // a period-bounded read prunes on the rotation key like the hour path
    val pruned = spark.read.parquet(monthArchive)
      .filter(col("rotation") === "2022-03")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(rotation"),
      s"rotation filter not pushed to partition pruning:\n$plan")
    assert(pruned.count() === 600)

    // the archive carries the drift side column (empty on the clean
    // fixture — drift surfacing itself is pinned in CdcSpec)
    assert(pruned.columns.contains("drift"))
    assert(pruned.filter(size(col("drift")) > 0).count() === 0)

    // compaction preserves a ROTATED layout: fold two batch dirs of the
    // OneMonth archive into one; row count and rotation pruning survive
    import graft.streaming.ArchiveCompaction
    val sinks2 = Sinks(s"${monthArchive.stripSuffix("/archive")}/serving2",
      monthArchive, s"${monthArchive.stripSuffix("/archive")}/error2", "")
    CdcStreamPipeline.sinkBatch(sinks2, rotation = Rotation.OneMonth)(batch, 1L)
    assert(ArchiveCompaction.compact(spark, monthArchive, 1L) === 2)
    val compacted = spark.read.parquet(monthArchive)
    assert(compacted.count() === 1200)
    val plan2 = compacted.filter(col("rotation") === "2022-03")
      .queryExecution.executedPlan.toString
    assert(plan2.contains("PartitionFilters: [isnotnull(rotation"),
      s"rotation pruning lost after compaction:\n$plan2")
  }

  test("an invalid rule set fails start(), not the running query at batch 0") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val root = tmpDir("cdc_badrules")
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")
    intercept[IllegalArgumentException] {
      CdcStreamPipeline.start(input.toDF(), sinks, Trigger.AvailableNow(),
        rules = Seq(Envelope.SelectionRule("%", "%", action = "exclude")))
    }
    assert(spark.streams.active.isEmpty,
      "no query may be left running after a failed start()")
  }

  test("batch RETRY is exactly-once: re-running sinkBatch leaves identical state") {
    val root = tmpDir("cdc_retry")
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")
    val batch = CdcStreamPipeline.parseLines(
      spark.read.text(Tables.cdcFixturePath))

    CdcStreamPipeline.sinkBatch(sinks)(batch, 0L)
    val archive1 = spark.read.parquet(sinks.archive).count()
    // collect eagerly: the retry swaps the serving directory underneath any
    // still-lazy reader
    val serving1 = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
      .collect().map(_.toString).sorted.toSeq

    // the at-least-once case: the same micro-batch executes again
    CdcStreamPipeline.sinkBatch(sinks)(batch, 0L)
    assert(spark.read.parquet(sinks.archive).count() === archive1)
    val serving2 = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
      .collect().map(_.toString).sorted.toSeq
    assert(serving2 === serving1)
  }

  test("serving state on BucketedState: single-key batch rewrites only its bucket; replayed record dirties none; foreign flat layout rejected") {
    import graft.streaming.BucketedState
    import spark.implicits._
    val root = tmpDir("cdc_bucketed")
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")
    val fixture = CdcStreamPipeline.parseLines(
      spark.read.text(Tables.cdcFixturePath))
    CdcStreamPipeline.sinkBatch(sinks)(fixture, 0L)
    val before = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
    assert(before.count() === 210)

    // batch 1: ONE new key — exactly its bucket directory is written;
    // the other ServingBuckets-1 buckets carry forward as pointers
    val newLine = scala.io.Source.fromFile(Tables.cdcFixturePath)
      .getLines().next()
      .replace("\"trans_id\": 30", "\"trans_id\": 987654321")
    val one = CdcStreamPipeline.parseLines(Seq(newLine).toDF("value"))
    CdcStreamPipeline.sinkBatch(sinks)(one, 1L)
    val expectBucket = spark.range(1).select(BucketedState.bucketOf(
        xxhash64(lit("testdb"), lit("retail_trans"), lit(987654321L)),
        CdcStreamPipeline.ServingBuckets))
      .collect().head.getInt(0)
    assert(BucketedState.bucketDirs(spark, sinks.serving, 1L) ===
      Set(expectBucket))
    val after = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
    assert(after.count() === 211)
    assert(after.filter(col("trans_id") === 987654321L).count() === 1)

    // batch 2: a pure REPLAY of an already-winning record — dirty =
    // candidates (the JoinViewMaintenance posture: LWW republishes the
    // batch keys' buckets rather than paying an anti-join every trigger
    // to prove them unchanged), so exactly the replayed key's bucket is
    // rewritten, byte-identical, and the other 15 stay pointers
    CdcStreamPipeline.sinkBatch(sinks)(one, 2L)
    assert(BucketedState.bucketDirs(spark, sinks.serving, 2L) ===
      Set(expectBucket))
    assert(CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
      .count() === 211)

    // a pre-round-11 FLAT layout (v= dirs, no _MANIFEST) must throw the
    // foreign-layout error — both on merge and on read — never silently
    // treat the old state as empty
    val flat = tmpDir("cdc_flat") + "/serving"
    fixture.filter(!Envelope.corrupt)
      .select(col("data"), col("metadata")).limit(5)
      .write.parquet(s"$flat/v=0")
    val flatSinks = Sinks(flat, s"$root/archive2", s"$root/error2",
      s"$root/checkpoint2")
    intercept[IllegalStateException] {
      CdcStreamPipeline.sinkBatch(flatSinks)(one, 1L)
    }
    intercept[IllegalStateException] {
      CdcStreamPipeline.servingSnapshot(spark, flat).count()
    }
  }

  test("full-load → CDC handover: bootstrap seeds serving state, overlapping replay neither drops nor double-applies the boundary (S1)") {
    // the cut is a real record's timestamp — the hardest boundary: a
    // change at exactly loadTs must beat the seed (txid tie-break) and
    // re-apply an image the snapshot already holds
    val loadTs = "2022-03-14T14:01:12.193068Z"
    val log = Envelope.changelog(spark, Tables.cdcFixturePath)
    val snapshotAtCut = Materialize.snapshot(
      log.filter(col("metadata.timestamp") <= loadTs))

    val root = tmpDir("cdc_boot")
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")
    CdcStreamPipeline.bootstrap(snapshotAtCut, loadTs, sinks)

    // phase 1 (full load only): serving view == the batch snapshot at the cut
    val seeded = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
    assert(seeded.exceptAll(snapshotAtCut).count() === 0)
    assert(snapshotAtCut.exceptAll(seeded).count() === 0)

    // bootstrap must refuse to stomp an existing serving state
    intercept[IllegalArgumentException] {
      CdcStreamPipeline.bootstrap(snapshotAtCut, loadTs, sinks)
    }

    // phase 2 (CDC): replay the FULL fixture through the same sinks —
    // every record at or before loadTs is a boundary overlap that must
    // be suppressed by the seed; everything after must win
    val src = tmpDir("cdc_boot_src")
    Files.copy(Paths.get(Tables.cdcFixturePath),
      Paths.get(s"$src/cdc.jsonl"), StandardCopyOption.REPLACE_EXISTING)
    val (main, dlq) = CdcStreamPipeline.start(
      spark.readStream.text(src), sinks, Trigger.AvailableNow())
    assert(main.awaitTermination(120000), "stream did not finish in 120s")
    assert(dlq.awaitTermination(120000), "stream did not finish in 120s")

    val streaming = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
    val oneShot = Materialize.snapshot(log)
    assert(streaming.count() === 210)
    assert(streaming.exceptAll(oneShot).count() === 0,
      "handover state has rows one-shot materialization lacks " +
        "(double-apply or resurrection)")
    assert(oneShot.exceptAll(streaming).count() === 0,
      "handover lost rows at the boundary")
  }

  test("multi-table wildcard stream: per-(schema,table,pk) serving state; shard bootstrap + overlapping replay (S1+S3)") {
    import graft.cdc.Bootstrap
    val rules = Seq(Envelope.SelectionRule("testdb", "retail_trans%"),
      Envelope.SelectionRule("%", "%backup", action = "exclude"))
    val bothLines = spark.read.text(
      Tables.cdcFixturePath, Tables.cdcShardFixturePath)
    val log = Envelope.parseLines(bothLines)
      .filter(Envelope.selection(rules)).drop("value")

    // seed BOTH shards at their own cuts (the eu shard's hour starts at
    // 15:00, the main table's at 14:00 — per-table loadTs is the point)
    val cutMain = "2022-03-14T14:01:12.193068Z"
    val cutEu = "2022-03-14T15:00:27.888210Z"
    def tableLog(t: String) =
      log.filter(col("metadata.`table-name`") === t)
    val seedEnv = Bootstrap.asLoadEnvelope(
        Materialize.snapshot(tableLog("retail_trans")
          .filter(col("metadata.timestamp") <= cutMain)),
        cutMain, "testdb", "retail_trans")
      .unionByName(Bootstrap.asLoadEnvelope(
        Materialize.snapshot(tableLog("retail_trans_eu")
          .filter(col("metadata.timestamp") <= cutEu)),
        cutEu, "testdb", "retail_trans_eu"))

    val root = tmpDir("cdc_multi")
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")
    CdcStreamPipeline.bootstrapEnvelope(seedEnv, sinks)

    // replay BOTH fixtures in full — overlap on both sides of the seam
    val src = tmpDir("cdc_multi_src")
    Files.copy(Paths.get(Tables.cdcFixturePath), Paths.get(s"$src/a.jsonl"))
    Files.copy(Paths.get(Tables.cdcShardFixturePath),
      Paths.get(s"$src/b.jsonl"))
    val (main, dlq) = CdcStreamPipeline.start(
      spark.readStream.text(src), sinks, Trigger.AvailableNow(),
      rules = rules)
    assert(main.awaitTermination(120000), "stream did not finish in 120s")
    assert(dlq.awaitTermination(120000), "stream did not finish in 120s")

    val streaming = CdcStreamPipeline.servingTables(spark, sinks.serving)
    val batch = Materialize.snapshotByTable(log)
    assert(streaming.count() === 263) // 210 main + 53 eu live keys
    assert(streaming.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streaming).count() === 0)
    // colliding pk ranges stayed apart: every (tbl, pk) unique
    assert(streaming.groupBy("tbl", "trans_id").count()
      .filter(col("count") > 1).count() === 0)
  }

  test("batched multi-table point lookup: 10 keys across two tables resolve ONE manifest, read only the union of the keys' buckets, and match the serving view") {
    import graft.streaming.BucketedState
    val rules = Seq(Envelope.SelectionRule("testdb", "retail_trans%"),
      Envelope.SelectionRule("%", "%backup", action = "exclude"))
    val src = tmpDir("cdc_batchlookup_src")
    Files.copy(Paths.get(Tables.cdcFixturePath), Paths.get(s"$src/a.jsonl"))
    Files.copy(Paths.get(Tables.cdcShardFixturePath),
      Paths.get(s"$src/b.jsonl"))
    val root = tmpDir("cdc_batchlookup")
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")
    val (main, dlq) = CdcStreamPipeline.start(
      spark.readStream.text(src), sinks, Trigger.AvailableNow(),
      rules = rules)
    assert(main.awaitTermination(120000), "stream did not finish in 120s")
    assert(dlq.awaitTermination(120000), "stream did not finish in 120s")

    val snap = CdcStreamPipeline.servingTables(spark, sinks.serving)
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getLong(r.fieldIndex("trans_id"))) -> r).toMap
    val mainKeys = snap.keys.filter(_._2 == "retail_trans").take(5).toSeq
    val euKeys = snap.keys.filter(_._2 == "retail_trans_eu").take(5).toSeq
    assert(mainKeys.size === 5 && euKeys.size === 5)
    // 10 live keys spanning both tables + one never-seen key
    val keys = mainKeys ++ euKeys :+ (("testdb", "retail_trans", 999999999L))

    val before = BucketedState.manifestResolutions.get()
    val looked = CdcStreamPipeline.servingLookupBatch(
      spark, sinks.serving, keys)
    val rows = looked.collect()
    // the whole key batch resolved the manifest ONCE — not per key
    assert(BucketedState.manifestResolutions.get() - before === 1,
      "batched lookup resolved the manifest more than once")

    // every live key returns exactly its serving row, with its table
    // identity; the absent key is absent (11 asked, 10 live)
    assert(rows.length === 10, s"expected 10 live rows, got ${rows.length}")
    rows.foreach { r =>
      val key = (r.getString(0), r.getString(1), r.getLong(2))
      assert(snap.contains(key), s"lookup invented a row for $key")
      // identity columns (sch, tbl, pk) prefix the data payload; the
      // snapshot row is (sch, tbl, data.*)
      assert(r.toSeq.drop(3) === snap(key).toSeq.drop(2),
        s"row mismatch for $key")
    }

    // I/O: the read opens exactly the files under the union of the
    // keys' buckets, each in its owning version
    val opened = BucketedState.lastFilesOpened.get().toSet
    val expected = keyBucketFiles(sinks.serving, keys)
    assert(expected.nonEmpty && opened === expected,
      s"lookup opened $opened, want $expected")
    assert(expected.map(f => f.substring(0, f.lastIndexOf('/'))).size <
      CdcStreamPipeline.ServingBuckets,
      "keys cover every bucket — containment check vacuous")

    // parity: one lookup of EVERY key in both logs (tombstoned and
    // unselected ones included) plus an absent key answers exactly the
    // serving view
    val logKeys = Seq(Tables.cdcFixturePath, Tables.cdcShardFixturePath)
      .map(Envelope.parse(spark, _)
        .filter(!Envelope.corrupt && col("data.trans_id").isNotNull))
      .reduce(_ unionByName _)
      .select(col("metadata.`schema-name`"), col("metadata.`table-name`"),
        col("data.trans_id")).distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(logKeys.exists(k => !snap.contains(k)), "no tombstoned key")
    val all = CdcStreamPipeline.servingLookupBatch(spark, sinks.serving,
      logKeys :+ (("testdb", "retail_trans", 999999999L))).collect()
    assert(all.forall(r => r.getLong(2) === r.getLong(3)))
    assert(all.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq.take(2) ++ r.toSeq.drop(3)))
      .toSet === snap.values.toSet)
    assert(all.length === snap.size)
  }

  test("driver-side point lookup: untouched buckets answer through the seed's pointer; an over-pruned version throws; a rowless bucket reads empty") {
    import graft.cdc.Bootstrap
    import graft.streaming.BucketedState
    import org.apache.hadoop.fs.Path
    val loadTs = "2022-03-14T23:00:00.000000Z" // after every fixture record
    val seed = Materialize.snapshot(
      Envelope.changelog(spark, Tables.cdcFixturePath))
    val live = seed.collect()
      .map(r => r.getLong(r.fieldIndex("trans_id")) -> r).toMap
    val root = tmpDir("srv_local_lookup")
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")
    CdcStreamPipeline.bootstrap(seed, loadTs, sinks)

    // a 1-key batch at id 0 rewrites that key's bucket only
    val hot = live.keys.min
    val line = s"""{"data": {"trans_id": $hot, "customer_id": "c-hot", "event": "purchase", "sku": "AA0000AAAA", "amount": 7, "device": "pc", "trans_datetime": "2022-03-15T00:00:00Z"}, "metadata": {"timestamp": "2022-03-15T00:00:00.000000Z", "record-type": "data", "operation": "update", "partition-key-type": "primary-key", "schema-name": "testdb", "table-name": "retail_trans", "transaction-id": 777}}"""
    import spark.implicits._
    CdcStreamPipeline.sinkBatch(sinks)(
      CdcStreamPipeline.parseLines(Seq(line).toDF("value")), 0L)
    val (_, _, owners) = BucketedState.latestManifest(spark, sinks.serving).get
    val hotBucket = owners.collectFirst { case (b, 0L) => b }.get
    assert(owners.values.count(_ == 0L) === 1)

    val hotRow = CdcStreamPipeline.servingLookup(spark, sinks.serving,
      "testdb", "retail_trans", hot).collect()
    assert(hotRow.map(_.getString(1)).toSeq === Seq("c-hot"))
    assert(BucketedState.lastFilesOpened.get().nonEmpty &&
      BucketedState.lastFilesOpened.get().forall(
        _.contains(s"/v=0/${BucketedState.BucketCol}=$hotBucket/")))

    // a key in an untouched bucket: answered from v=-1 through the pointer
    val cold = live.keys.find(k => keyBucketFiles(sinks.serving,
      Seq(("testdb", "retail_trans", k))).forall(_.contains("/v=-1/"))).get
    assert(CdcStreamPipeline.servingLookup(spark, sinks.serving,
      "testdb", "retail_trans", cold).collect().toSeq === Seq(live(cold)))
    val coldFiles = BucketedState.lastFilesOpened.get()
    assert(coldFiles.nonEmpty && coldFiles.forall(_.contains("/v=-1/")))

    // the seed's version deleted out of band: the pointer dangles, and the
    // lookup throws instead of answering "absent"
    val fs = new Path(sinks.serving)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(s"${sinks.serving}/v=-1"), true))
    val dangling = intercept[IllegalStateException] {
      CdcStreamPipeline.servingLookup(spark, sinks.serving,
        "testdb", "retail_trans", cold).collect()
    }
    assert(dangling.getMessage.contains("v=-1"))

    // a bucket without rows has no directory; its keys read empty
    val root2 = tmpDir("srv_local_sparse")
    val sparse = Sinks(s"$root2/serving", s"$root2/archive", s"$root2/error",
      s"$root2/checkpoint")
    CdcStreamPipeline.bootstrap(seed.filter(col("trans_id") === hot),
      loadTs, sparse)
    val absent = (1L to 1000L).find(k => keyBucketFiles(sparse.serving,
      Seq(("testdb", "retail_trans", k))).isEmpty).get
    assert(CdcStreamPipeline.servingLookup(spark, sparse.serving,
      "testdb", "retail_trans", absent).collect().isEmpty)
    assert(BucketedState.lastFilesOpened.get().isEmpty)
  }

  test("driver-side point lookup: a null-pk state row never answers pk 0") {
    import graft.streaming.BucketedState
    import spark.implicits._
    // a table name under which the null pk and pk 0 share a bucket, so
    // the lookup really reads the null-pk row
    val tbl = (0 until 200).map(i => s"t$i").find { t =>
      spark.range(1).select(
        BucketedState.bucketOf(xxhash64(lit("testdb"), lit(t), lit(0L)),
          CdcStreamPipeline.ServingBuckets),
        BucketedState.bucketOf(xxhash64(lit("testdb"), lit(t),
          lit(null).cast("long")), CdcStreamPipeline.ServingBuckets))
        .collect().forall(r => r.getInt(0) == r.getInt(1))
    }.get
    val snapshot = Seq[(Option[Long], String)]((Some(0L), "zero"),
        (None, "nullpk")).toDF("trans_id", "customer_id")
      .select(Envelope.dataSchema.map(f =>
        (if (Set("trans_id", "customer_id")(f.name)) col(f.name)
         else lit(null)).cast(f.dataType).as(f.name)): _*)
    val root = tmpDir("srv_local_nullpk")
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")
    CdcStreamPipeline.bootstrap(snapshot, "2022-03-14T00:00:00.000000Z",
      sinks, tableName = tbl)
    assert(CdcStreamPipeline.servingTables(spark, sinks.serving)
      .filter(col("trans_id").isNull).count() === 1)
    val got = CdcStreamPipeline.servingLookup(spark, sinks.serving,
      "testdb", tbl, 0L).collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((0L, "zero")))
    assert(BucketedState.lastFilesOpened.get().size === 1)
  }

  test("bootstrap of an EMPTY snapshot yields a readable serving state and the stream proceeds (S1 edge)") {
    // a table empty at the full-load cut is a legal full-load-and-cdc
    // start; the v=-1 seed must still be schema-bearing parquet or the
    // first micro-batch merge dies reading it
    val loadTs = "2022-03-14T13:00:00.000000Z" // before every record
    val log = Envelope.changelog(spark, Tables.cdcFixturePath)
    val emptySnapshot = Materialize.snapshot(
      log.filter(col("metadata.timestamp") <= loadTs))
    assert(emptySnapshot.count() === 0)

    val root = tmpDir("cdc_boot_empty")
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")
    CdcStreamPipeline.bootstrap(emptySnapshot, loadTs, sinks)
    // the seeded view must read (zero rows), not throw on a schemaless dir
    assert(CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
      .count() === 0)

    val src = tmpDir("cdc_boot_empty_src")
    Files.copy(Paths.get(Tables.cdcFixturePath), Paths.get(s"$src/a.jsonl"))
    val (main, dlq) = CdcStreamPipeline.start(
      spark.readStream.text(src), sinks, Trigger.AvailableNow())
    assert(main.awaitTermination(120000), "stream did not finish in 120s")
    assert(dlq.awaitTermination(120000), "stream did not finish in 120s")
    val streaming = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
    val oneShot = Materialize.snapshot(log)
    assert(streaming.count() === 210)
    assert(streaming.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(streaming).count() === 0)
  }

  test("duplicate delivery is idempotent (the reference's _id semantics)") {
    val src = tmpDir("cdc_src_dup")
    Files.copy(Paths.get(Tables.cdcFixturePath), Paths.get(s"$src/a.jsonl"))
    Files.copy(Paths.get(Tables.cdcFixturePath), Paths.get(s"$src/b.jsonl"))
    val sinks = runPipeline(src, tmpDir("cdc_out_dup"))

    val streaming = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
    val batch = Materialize.snapshot(
      Envelope.changelog(spark, Tables.cdcFixturePath))
    assert(streaming.count() === 210)
    assert(streaming.exceptAll(batch).count() === 0)
  }

  test("ProcessingTime trigger (the reference's 60s micro-batch) drives the same pipeline") {
    // S8: the production trigger is time-based (firehose.py:122-125); the
    // replay tests use AvailableNow. Run one micro-batch under a
    // ProcessingTime trigger to pin that configuration path.
    val src = tmpDir("cdc_pt")
    Files.copy(Paths.get(Tables.cdcFixturePath), Paths.get(s"$src/a.jsonl"))
    val root = tmpDir("cdc_pt_out")
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")
    val (main, dlq) = CdcStreamPipeline.start(
      spark.readStream.text(src), sinks,
      Trigger.ProcessingTime("1 second"))
    try {
      main.processAllAvailable()
      assert(CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
        .count() === 210)
    } finally { main.stop(); dlq.stop() }
  }

  test("watermark drops late rows from a windowed aggregation (O32)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val counts = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("c"))
    val q = counts.writeStream.format("memory").queryName("wm_counts")
      .outputMode("append").start()

    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    // batch 1: events at 10:00-10:04; batch 2 advances watermark far ahead
    input.addData((ts(0), 1L), (ts(2), 2L), (ts(4), 3L))
    q.processAllAvailable()
    input.addData((ts(59), 9L)) // watermark → 10:49
    q.processAllAvailable()
    // batch 3: a late row at 10:01 — behind the watermark, must be dropped
    input.addData((ts(1), 4L))
    q.processAllAvailable()
    input.addData((java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 10L))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("wm_counts")
      .select(col("window.start").cast("string").as("s"), col("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the 10:00 window closed with 3 rows — the late 4th never counted
    assert(out("2024-01-01 10:00:00") === 3)
  }

  test("session windows close per user once the watermark passes the gap (O31 streaming)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val sessions = input.toDF().toDF("ts", "user")
      .withWatermark("ts", "5 minutes")
      .groupBy(col("user"), session_window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("c"))
    val q = sessions.writeStream.format("memory").queryName("sw_sessions")
      .outputMode("append").start()

    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    // user 1: events at 10:00, 10:05 (one session), then 10:30 (new session)
    input.addData((ts(0), 1L), (ts(5), 1L), (ts(30), 1L))
    q.processAllAvailable()
    // advance the watermark far enough to emit all sessions
    input.addData((java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 2L))
    q.processAllAvailable()
    input.addData((java.sql.Timestamp.valueOf("2024-01-01 14:00:00"), 2L))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("sw_sessions")
      .filter(col("user") === 1L)
      .select(col("session_window.start").cast("string").as("s"), col("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("2024-01-01 10:00:00" -> 2L, "2024-01-01 10:30:00" -> 1L))
  }

  test("streaming dedup drops redelivered keys within the watermark (O33)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val deduped = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val q = deduped.writeStream.format("memory").queryName("dd_rows")
      .outputMode("append").start()

    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    input.addData((ts(0), 1L), (ts(1), 2L))
    q.processAllAvailable()
    input.addData((ts(2), 1L), (ts(3), 3L)) // key 1 redelivered
    q.processAllAvailable()
    q.stop()

    val ks = spark.table("dd_rows").select("k").collect().map(_.getLong(0)).sorted
    assert(ks.toSeq === Seq(1L, 2L, 3L))
  }

  test("incremental rollup maintenance equals one-shot aggregation and is idempotent under batch retry") {
    import graft.streaming.RollupMaintenance
    import org.apache.spark.sql.DataFrame
    val lines = Files.readAllLines(Paths.get(Tables.cdcFixturePath))
    val src = tmpDir("cdc_rollup_src")
    (0 until 6).foreach { i =>
      Files.write(Paths.get(s"$src/part$i.jsonl"),
        (i until lines.size by 6).map(lines.get).mkString("\n").getBytes)
    }
    val rollup = tmpDir("cdc_rollup_state") + "/rollup"
    def good(df: DataFrame) = CdcStreamPipeline.parseLines(df)
      .filter(!Envelope.corrupt && col("event_ts").isNotNull)
      .filter(Envelope.selection())
    val q = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
      .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        RollupMaintenance.update(rollup, good(b), id)
      }.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("cdc_rollup_ckpt")).start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    // 6 incremental merges == one aggregation over everything delivered
    val snap = RollupMaintenance.snapshot(spark, rollup)
    val oneShot = RollupMaintenance.partial(good(spark.read.text(src)))
    assert(snap.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(snap).count() === 0)

    // a retried batch whose commit already landed must NOT double-count
    // (SUM rollups are not idempotent — the version protocol is the guard)
    val before = snap.collect().map(_.toString).sorted.toSeq
    RollupMaintenance.update(rollup, good(spark.read.text(src)), 5L)
    val after = RollupMaintenance.snapshot(spark, rollup)
      .collect().map(_.toString).sorted.toSeq
    assert(after === before)

    // multi-table: a wildcard-selected stream rolls up per shard
    val both = CdcStreamPipeline.parseLines(
        spark.read.text(Tables.cdcFixturePath, Tables.cdcShardFixturePath))
      .filter(!Envelope.corrupt && col("event_ts").isNotNull)
      .filter(Envelope.selection(Seq(
        Envelope.SelectionRule("testdb", "retail_trans%"),
        Envelope.SelectionRule("%", "%backup", action = "exclude"))))
    val perTable = RollupMaintenance.partial(both)
      .groupBy("tbl").agg(sum("c").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perTable === Map("retail_trans" -> 600L, "retail_trans_eu" -> 117L))
  }

  test("incremental sketch maintenance estimates equal one-shot build and survive batch retry") {
    import graft.streaming.SketchMaintenance
    import graft.operators.Hll
    import org.apache.spark.sql.DataFrame
    val lines = Files.readAllLines(Paths.get(Tables.cdcFixturePath))
    val src = tmpDir("cdc_sketch_src")
    (0 until 6).foreach { i =>
      Files.write(Paths.get(s"$src/part$i.jsonl"),
        (i until lines.size by 6).map(lines.get).mkString("\n").getBytes)
    }
    val shelf = tmpDir("cdc_sketch_state") + "/sketch"
    def good(df: DataFrame) = CdcStreamPipeline.parseLines(df)
      .filter(!Envelope.corrupt && col("event_ts").isNotNull)
      .filter(Envelope.selection())
      .select(col("metadata.`table-name`").as("tbl"),
        col("data.customer_id").as("cust"))
    val q = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
      .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        SketchMaintenance.update(shelf, good(b), id, "tbl", "cust")
      }.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("cdc_sketch_ckpt")).start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    // 6 incremental register folds estimate EXACTLY like one build over
    // everything delivered (HLL union is a semilattice on registers)
    def estMap(df: DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val served = estMap(SketchMaintenance.estimates(spark, shelf))
    val oneShot = estMap(Hll.estimateDistinct(
      Hll.build(good(spark.read.text(src)), "tbl", "cust")))
    assert(served === oneShot)
    assert(served.nonEmpty && served.values.forall(_ > 0.0))

    // retried final batch: registers and estimates must not change
    SketchMaintenance.update(shelf, good(spark.read.text(src)), 5L,
      "tbl", "cust")
    assert(estMap(SketchMaintenance.estimates(spark, shelf)) === served)
  }

  test("dup-cluster maintenance: incremental label folds == one-shot CC; cross-batch bridges merge; retry is a no-op") {
    import graft.streaming.DupClusterMaintenance
    import graft.operators.ConnectedComponents
    import org.apache.spark.sql.DataFrame
    val src = tmpDir("dupcc_src")
    // chains deliberately SPLIT across batches so bridging is exercised:
    // 1-2 | 2-3 | 3-4 must converge to one cluster only across folds
    val batches = Seq(
      Seq((1L, 2L), (10L, 11L), (20L, 21L)),
      Seq((2L, 3L), (11L, 12L)),
      Seq((3L, 4L), (30L, 31L)))
    batches.zipWithIndex.foreach { case (ps, i) =>
      Files.write(Paths.get(s"$src/part$i.txt"),
        ps.map { case (a, b) => s"$a $b" }.mkString("\n").getBytes)
    }
    val shelf = tmpDir("dupcc_state") + "/labels"
    def pairs(df: DataFrame) = df
      .select(split(col("value"), " ").as("p"))
      .select(col("p").getItem(0).cast("long").as("a_id"),
        col("p").getItem(1).cast("long").as("b_id"))
    val q = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
      .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        DupClusterMaintenance.update(shelf, pairs(b), id): Unit
      }.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("dupcc_ckpt")).start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    def labelMap(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val served = labelMap(DupClusterMaintenance.labels(spark, shelf))
    val oneShot = labelMap(
      ConnectedComponents.run(pairs(spark.read.text(src))
        .toDF("a", "b")))
    assert(served === oneShot)
    // the split chain really merged (1-2, 2-3, 3-4 arrived in 3 batches)
    assert(Seq(1L, 2L, 3L, 4L).map(served).distinct === Seq(1L))

    // retried final batch: labels must not change
    DupClusterMaintenance.update(shelf, pairs(spark.read.text(src)), 2L)
    assert(labelMap(DupClusterMaintenance.labels(spark, shelf)) === served)

    // bucketed layout: a batch introducing one ISOLATED pair rewrites
    // only that pair's label buckets — every other bucket carries
    // forward as a manifest pointer, zero copies. Round 11: the fold's
    // bucket-pruned READS are also batch-bounded — the report pins that
    // the only partition-pruned reads were the batch ids' anchor
    // buckets plus the dirty carryover (identical sets for a new pair).
    import graft.streaming.BucketedState
    import spark.implicits._
    val report = DupClusterMaintenance.update(shelf,
      Seq((100L, 101L)).toDF("a_id", "b_id"), 3L)
      .getOrElse(fail("fresh batch must fold, not fence"))
    def bucketOf(id: Long): Int = spark.range(1)
      .select(BucketedState.bucketOf(lit(id), DupClusterMaintenance.NumBuckets))
      .collect().head.getInt(0)
    assert(BucketedState.bucketDirs(spark, shelf, 3L) ===
      Set(bucketOf(100L), bucketOf(101L)))
    assert(report.dirtyBuckets === Set(bucketOf(100L), bucketOf(101L)))
    assert(report.candidateBuckets === Set(bucketOf(100L), bucketOf(101L)))
    // this tenant is NOT fully read-pruned: the report must admit the
    // phase-2 row-pruned full-relation scan, so a spec (or operator
    // audit) can never misread it as bucket-pruned-only
    assert(report.unprunedScans === 1)
    // ...and the new pair is labeled without disturbing old clusters
    val after = labelMap(DupClusterMaintenance.labels(spark, shelf))
    assert(after(100L) === 100L && after(101L) === 100L)
    assert(after.view.filterKeys(_ < 100L).toMap === served)
  }

  test("streaming drift monitor: cross-batch CUSUM alarms == the batch fold; state carries between triggers") {
    import graft.streaming.DriftMonitor
    import graft.streaming.DriftMonitor.{DriftAlarm, DriftEvent}
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("um"),
        col("event_id"),
        expr("CAST(CAST(value AS DOUBLE) * 100 AS BIGINT)").as("cents"))
      .as[DriftEvent]
    // four contiguous time slices of the (um, event_id)-ordered history:
    // batches partition event time monotonically — the ordering contract
    val sorted = ev.orderBy("um", "event_id").collect().toSeq
    val slices = sorted.grouped((sorted.size + 3) / 4).toSeq
    assert(slices.size === 4)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DriftEvent]
    val q = DriftMonitor.alarms(input.toDS(), 5000L, 30000L)
      .writeStream.format("memory").queryName("drift_alarms")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("drift_ckpt")).start()
    slices.foreach { sl => input.addData(sl: _*); q.processAllAvailable() }
    q.stop()

    val got = spark.table("drift_alarms").as[DriftAlarm].collect().toSeq
    val gotCounts = got.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
    // parity oracle: the q191-gated batch fold over the same history
    val batch = graft.operators.SeqFold.cusum(
        Tables.events(spark, sf)
          .select(col("user_id"),
            expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts"),
            col("event_id"),
            expr("CAST(CAST(value AS DOUBLE) * 100 AS BIGINT)").as("cents")),
        k = 5000L, h = 30000L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(gotCounts === batch.filter(_._2 > 0), "alarm counts diverge")
    assert(got.nonEmpty, "fixture must fire alarms — vacuous otherwise")
    // ordinals are per-user sequences 1..n and alarm times move forward
    got.groupBy(_.user_id).values.foreach { as =>
      val inOrder = as.sortBy(a => (a.um, a.event_id))
      assert(inOrder.map(_.alarm_no) === (1L to as.size).toSeq)
    }
  }

  test("join-view maintenance: CDC fact stream ⋈ dim seed == batch snapshot join; retry is a no-op") {
    import graft.streaming.JoinViewMaintenance
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    // fixture split into 4 trigger files BY KEY (trans_id % 4): each
    // key's whole history lands in one batch, so per-key winners are
    // independent of the file source's batch order (which follows
    // modification time, not name — a round-robin split would make the
    // parity oracle depend on it; cross-batch overwrite mechanics are
    // JoinViewSpec's job)
    val allParsed = Envelope.parseLines(
      spark.read.text(Tables.cdcFixturePath))
      .withColumn("part",
        coalesce(pmod(col("data.trans_id"), lit(4)), lit(0)))
      .localCheckpoint()
    val src = tmpDir("jv_src")
    (0 until 4).foreach { i =>
      val ls = allParsed.filter(col("part") === i)
        .select("value").collect().map(_.getString(0))
      Files.write(Paths.get(s"$src/part$i.jsonl"),
        ls.mkString("\n").getBytes)
    }
    // static dim: every customer_id ever seen, tier = md5 prefix
    val dimSeed = Envelope.changelog(spark.read.text(src))
      .select(col("data.customer_id").as("pk")).distinct()
      .select(col("pk"), substring(md5(col("pk")), 1, 2).as("payload"),
        lit("upsert").as("op"))
      .localCheckpoint()
    val emptyR = dimSeed.limit(0)
    val dir = tmpDir("jv_state") + "/view"
    def toL(batch: DataFrame): DataFrame = {
      val cl = Envelope.changelog(batch)
      val w = Window.partitionBy(col("data.trans_id"))
        .orderBy(col("metadata.timestamp").desc,
          col("metadata.`transaction-id`").desc)
      cl.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("data.trans_id").cast("string").as("pk"),
          col("data.customer_id").as("fk"),
          col("data.amount").cast("string").as("payload"),
          when(col("metadata.operation") === "delete", "delete")
            .otherwise("upsert").as("op"))
    }
    val q = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
      .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        JoinViewMaintenance.update(dir, toL(b),
          if (id == 0L) dimSeed else emptyR, id)
      }.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("jv_ckpt")).start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    val served = rows(JoinViewMaintenance.view(spark, dir))
    // Parity oracle: per-key winners are batch-order-independent under
    // the by-key split, so the final left state is just the union of
    // each file's collapsed non-deletes — compare the served view to
    // that one-shot join
    val lFinal = (0 until 4).map(i =>
        toL(spark.read.text(s"$src/part$i.jsonl"))
          .filter(col("op") =!= "delete"))
      .reduce(_ unionByName _)
    val expected = rows(lFinal
      .join(dimSeed.select(col("pk").as("fk"), col("payload").as("rp")), "fk")
      .select(col("pk"), col("fk"), col("payload"), col("rp")))
    assert(served === expected)
    assert(served.nonEmpty)
    // retried final batch with torn data must change nothing
    JoinViewMaintenance.update(dir,
      toL(spark.read.text(s"$src/part0.jsonl"))
        .withColumn("payload", lit("TORN")), emptyR, 3L)
    assert(rows(JoinViewMaintenance.view(spark, dir)) === served)
  }

  test("archive compaction folds batch dirs into one, preserves rows and hour pruning, resumes after a crash") {
    import graft.streaming.ArchiveCompaction
    // many small batches: one file per trigger over a 6-way split
    val lines = Files.readAllLines(Paths.get(Tables.cdcFixturePath))
    val src = tmpDir("cdc_compact_src")
    (0 until 6).foreach { i =>
      Files.write(Paths.get(s"$src/part$i.jsonl"),
        (i until lines.size by 6).map(lines.get).mkString("\n").getBytes)
    }
    val root = tmpDir("cdc_compact_out")
    val sinks = Sinks(s"$root/serving", s"$root/archive", s"$root/error",
      s"$root/checkpoint")
    val (main, dlq) = CdcStreamPipeline.start(
      spark.readStream.option("maxFilesPerTrigger", "1").text(src),
      sinks, Trigger.AvailableNow())
    assert(main.awaitTermination(120000), "stream did not finish in 120s")
    assert(dlq.awaitTermination(120000), "stream did not finish in 120s")

    val before = spark.read.parquet(sinks.archive)
      .drop("batch_id").collect().map(_.toString).sorted.toSeq
    val idsBefore = ArchiveCompaction.batchIds(spark, sinks.archive)
    assert(idsBefore.size === 6, s"expected 6 batch dirs, got $idsBefore")

    // compact all but the newest (retry-overlap retention)
    assert(ArchiveCompaction.compactOlderThan(spark, sinks.archive, 1) === 5)
    val idsAfter = ArchiveCompaction.batchIds(spark, sinks.archive)
    assert(idsAfter.size === 2, s"expected 2 dirs after compaction: $idsAfter")

    // row-for-row parity and hour pruning still pushes
    val after = spark.read.parquet(sinks.archive)
    assert(after.drop("batch_id").collect().map(_.toString).sorted.toSeq === before)
    val plan = after.filter(col("hour") === "14")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(hour"),
      s"hour pruning lost after compaction:\n$plan")

    // crash-resume: simulate a failure between the staging write and the
    // swap — staging + marker exist, sources already gone — by compacting
    // the remaining two dirs but restoring the marker mid-protocol state
    val all2 = idsAfter.max
    val fs = new org.apache.hadoop.fs.Path(sinks.archive)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // build the mid-crash state manually: write staging for horizon all2
    val union = spark.read.option("basePath", sinks.archive)
      .parquet(idsAfter.map(i => s"${sinks.archive}/batch_id=$i"): _*)
    union.drop("batch_id").write.partitionBy("year", "month", "day", "hour")
      .mode("overwrite").parquet(s"${sinks.archive}/.compact-$all2")
    fs.create(new org.apache.hadoop.fs.Path(
      s"${sinks.archive}/.compact-$all2.complete"), true).close()
    idsAfter.foreach(i => fs.delete(
      new org.apache.hadoop.fs.Path(s"${sinks.archive}/batch_id=$i"), true))
    // the AUTOMATED path must finish the swap: with every source dir gone
    // there are no batch ids left to derive the crashed horizon from, so
    // compactOlderThan can only see the stranded rows via orphan-marker
    // recovery, never by re-picking the same horizon
    assert(ArchiveCompaction.orphanHorizons(spark, sinks.archive) === Seq(all2))
    ArchiveCompaction.compactOlderThan(spark, sinks.archive, 3)
    assert(ArchiveCompaction.batchIds(spark, sinks.archive) === Seq(all2))
    assert(spark.read.parquet(sinks.archive)
      .drop("batch_id").collect().map(_.toString).sorted.toSeq === before)
    // and running it AGAIN is a no-op (resume-after-swap guard)
    assert(ArchiveCompaction.compact(spark, sinks.archive, all2) === 0)
    assert(spark.read.parquet(sinks.archive).count() === before.size)

    // reapStaging (forget-time debris): an UNMARKED staging dir is a
    // compaction that crashed mid-staging-write — uncommitted by
    // protocol, so it reaps; a marker-COMMITTED staging must be left
    // for recover() to finish its swap, never reaped
    val unmarked = new org.apache.hadoop.fs.Path(s"${sinks.archive}/.compact-97")
    fs.mkdirs(unmarked)
    val marked = new org.apache.hadoop.fs.Path(s"${sinks.archive}/.compact-98")
    fs.mkdirs(marked)
    fs.create(new org.apache.hadoop.fs.Path(
      s"${sinks.archive}/.compact-98.complete"), true).close()
    assert(ArchiveCompaction.reapStaging(spark, sinks.archive)
      .map(p => new org.apache.hadoop.fs.Path(p).getName) ===
      Seq(".compact-97"))
    assert(!fs.exists(unmarked) && fs.exists(marked),
      "reapStaging must reap only unmarked staging dirs")
  }

  test("stream-static enrichment join: CDC stream enriched against a static dim == batch join") {
    // the standard serving-pipeline shape: the change stream joins a slow
    // dim table (sku → category) WITHOUT watermark/state — Spark plans a
    // per-micro-batch broadcast join against the static side
    import spark.implicits._
    val dim = spark.createDataset(Seq.tabulate(26)(i =>
        (('A' + i).toChar.toString, s"cat${i % 5}")))
      .toDF("sku_head", "category")
    val src = tmpDir("cdc_enrich_src")
    Files.copy(Paths.get(Tables.cdcFixturePath), Paths.get(s"$src/a.jsonl"))
    val enriched = Envelope.changelog(spark.readStream.text(src))
      .select(col("data.trans_id").as("trans_id"),
        col("data.sku").as("sku"))
      .join(dim, substring(col("sku"), 1, 1) === col("sku_head"), "left")
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    val got = spark.table("enriched")
    val want = Envelope.changelog(spark, Tables.cdcFixturePath)
      .select(col("data.trans_id").as("trans_id"), col("data.sku").as("sku"))
      .join(dim, substring(col("sku"), 1, 1) === col("sku_head"), "left")
    assert(got.count() === 600)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // every fixture sku starts with an uppercase letter → fully enriched
    assert(got.filter(col("category").isNull).count() === 0)
  }

  test("streaming as-of enrichment: the custom AsOf exec runs per micro-batch in foreachBatch") {
    // enrich each change with the price-list version in force AT ITS
    // event time — the classic as-of enrichment, composed from the
    // custom LogicalPlan/SparkPlan (plans/AsOfJoin) inside foreachBatch,
    // proving the tier-(c) operator participates in streaming plans
    import spark.implicits._
    import graft.operators.AsOf
    val rates = Seq( // the fixture's changes all land on 2022-03-14
      ("2022-03-14 00:00:00", 100L),
      ("2022-03-14 08:00:00", 110L),
      ("2022-03-14 16:00:00", 125L))
      .toDF("since", "rate")
      .select(to_timestamp(col("since")).as("since"), col("rate"),
        lit(1).as("k"))
    val src = tmpDir("cdc_asof_src")
    Files.copy(Paths.get(Tables.cdcFixturePath), Paths.get(s"$src/a.jsonl"))
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = Envelope.changelog(spark.readStream.text(src))
      .select(col("data.trans_id").as("trans_id"),
        to_timestamp(col("data.trans_datetime")).as("ts"), lit(1).as("k"))
      .writeStream.outputMode("append").trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val enriched = AsOf.join(batch, rates,
          leftOn = Seq(batch("k")), rightOn = Seq(rates("k")),
          leftTs = batch("ts"), rightTs = rates("since"),
          leftOuter = true)
        out.synchronized {
          out ++= enriched.collect().map(r =>
            (r.getLong(0), if (r.isNullAt(4)) -1L else r.getLong(4)))
        }
        ()
      }.start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    // batch reference: same as-of join over the whole changelog at once
    val ref = Envelope.changelog(spark, Tables.cdcFixturePath)
      .select(col("data.trans_id").as("trans_id"),
        to_timestamp(col("data.trans_datetime")).as("ts"), lit(1).as("k"))
    val want = AsOf.join(ref, rates,
        leftOn = Seq(ref("k")), rightOn = Seq(rates("k")),
        leftTs = ref("ts"), rightTs = rates("since"), leftOuter = true)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(4)) -1L else r.getLong(4)))
    assert(out.size === want.length)
    assert(out.sorted.toSeq === want.sorted.toSeq)
    // the fixture spans the rate changes → more than one rate in force
    assert(out.map(_._2).toSet.size > 1)
  }

  test("stream-stream interval join: purchases attribute to clicks within 30 min, watermark-bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

    val c = clicks.toDF().toDF("cts", "cuser").withWatermark("cts", "1 hour")
    val b = buys.toDF().toDF("bts", "buser").withWatermark("bts", "1 hour")
    val joined = c.join(b,
      col("cuser") === col("buser") &&
        col("bts") >= col("cts") &&
        col("bts") < col("cts") + expr("INTERVAL 30 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()

    clicks.addData((ts(0), 1L), (ts(0), 2L), (ts(40), 3L))
    buys.addData((ts(20), 1L), (ts(45), 2L), (ts(50), 3L))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("attrib")
      .select(col("cuser"), col("cts").cast("string"), col("bts").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // user 1: buy 20 min after click → attributed; user 2: 45 min → outside
    // the window; user 3: click 10:40, buy 10:50 → attributed
    assert(got === Set(
      (1L, "2024-01-01 10:00:00", "2024-01-01 10:20:00"),
      (3L, "2024-01-01 10:40:00", "2024-01-01 10:50:00")))
  }

  test("schema drift: extra envelope fields are ignored, missing nullable fields parse as null") {
    // an upstream ALTER TABLE ADD COLUMN (extra field in data) or a
    // producer omitting a nullable column must NOT hit the DLQ — the
    // declared-schema parse keeps known fields and nulls absent ones
    val extra =
      """{"data": {"trans_id": 11, "customer_id": "c11", "event": "visit", "sku": "AA0000AAAA", "amount": 5, "device": "pc", "trans_datetime": "2022-03-14T12:00:00Z", "coupon_code": "NEW15"}, "metadata": {"timestamp": "2022-03-14T12:00:00.000001Z", "record-type": "data", "operation": "insert", "partition-key-type": "primary-key", "schema-name": "testdb", "table-name": "retail_trans", "transaction-id": 5001}}"""
    val missing =
      """{"data": {"trans_id": 12, "customer_id": "c12", "sku": "BB0000BBBB", "amount": 6, "trans_datetime": "2022-03-14T12:00:01Z"}, "metadata": {"timestamp": "2022-03-14T12:00:01.000001Z", "record-type": "data", "operation": "insert", "partition-key-type": "primary-key", "schema-name": "testdb", "table-name": "retail_trans", "transaction-id": 5002}}"""
    val src = tmpDir("cdc_drift")
    Files.writeString(Paths.get(s"$src/drift.jsonl"), extra + "\n" + missing + "\n")
    val sinks = runPipeline(src, tmpDir("cdc_drift_out"))

    val served = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
      .orderBy("trans_id").collect()
    assert(served.length === 2, "both drifted rows must materialize")
    assert(served(0).getAs[Long]("trans_id") === 11L)
    assert(served(1).getAs[Long]("trans_id") === 12L)
    assert(served(1).getAs[String]("event") == null,
      "absent nullable field must surface as null")
    assert(served(1).getAs[String]("device") == null)
    // nothing was treated as corrupt
    assert(!Files.exists(Paths.get(sinks.error)) ||
      spark.read.text(sinks.error).count() === 0)
  }

  test("ACCEPTED LIMITATION: distinct changes with identical (pk, txid, ts) collapse to one") {
    // Two DIFFERENT row images stamped with the same primary key,
    // transaction id, and µs timestamp: the envelope carries no per-record
    // sequence number, so the pipeline cannot distinguish this from a
    // redelivery and keeps exactly one (documented at the dedup site in
    // CdcStreamPipeline). The batch materializer has the same blind spot —
    // its (timestamp, txid) window cannot rank the pair either.
    def env(amount: Int) =
      s"""{"data": {"trans_id": 7, "customer_id": "c7", "event": "cart", "sku": "ZZ0000ZZZZ", "amount": $amount, "device": "pc", "trans_datetime": "2022-03-14T12:00:00Z"}, "metadata": {"timestamp": "2022-03-14T12:00:00.123456Z", "record-type": "data", "operation": "update", "partition-key-type": "primary-key", "schema-name": "testdb", "table-name": "retail_trans", "transaction-id": 4242}}"""
    val src = tmpDir("cdc_sameid")
    Files.writeString(Paths.get(s"$src/pair.jsonl"), env(10) + "\n" + env(20) + "\n")
    val sinks = runPipeline(src, tmpDir("cdc_sameid_out"))

    val served = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
    assert(served.count() === 1, "the identical-triple pair must collapse to one row")
    // and the DLQ saw nothing — this is a silent collapse, not an error path
    assert(!Files.exists(Paths.get(sinks.error)) ||
      spark.read.text(sinks.error).count() === 0)
  }

  test("vocabulary maintenance: incremental first-seen == one-shot; q203 curve served from state; order-invariant; retry + seen-only batches rewrite nothing") {
    import graft.streaming.{BucketedState, VocabMaintenance}
    import graft.text.TextOps
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    def fsMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slices = Seq(
      docs.filter(col("doc_id") < 15),
      docs.filter(col("doc_id") >= 15 && col("doc_id") < 30),
      docs.filter(col("doc_id") >= 30))

    val shelf = tmpDir("vocab_state") + "/vocab"
    slices.zipWithIndex.foreach { case (b, i) =>
      VocabMaintenance.update(shelf, b, i.toLong) }
    val servedFs = fsMap(VocabMaintenance.firstSeen(spark, shelf))
    // state keys on the shingle's xxhash64 fingerprint (round 11) — the
    // one-shot twin fingerprints the same way
    val oneShot = fsMap(docs
      .withColumn("w", TextOps.tokens(col("text")))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(TextOps.trigrams(col("w"))).as("s"))
      .select(col("doc_id").cast("long").as("doc_id"),
        xxhash64(col("s")).as("f"))
      .groupBy("f").agg(min(col("doc_id")).as("first_doc")))
    assert(servedFs === oneShot && servedFs.nonEmpty)

    // the growth curve served FROM STATE equals the gated q203 result
    def curveRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(curveRows(VocabMaintenance.curve(spark, shelf)) ===
      curveRows(SparkEntry.queries("q203_vocab_growth")(spark, sf)))

    // retried final batch: state must not change
    VocabMaintenance.update(shelf, slices(2), 2L)
    assert(fsMap(VocabMaintenance.firstSeen(spark, shelf)) === servedFs)

    // delivery-order invariance: reversed slices converge to the same
    // state (the fold is a MIN, not first-writer-wins)
    val shelf2 = tmpDir("vocab_state2") + "/vocab"
    slices.reverse.zipWithIndex.foreach { case (b, i) =>
      VocabMaintenance.update(shelf2, b, i.toLong) }
    assert(fsMap(VocabMaintenance.firstSeen(spark, shelf2)) === servedFs)

    // a batch of ONLY already-seen shingles at already-minimal ids
    // dirties no bucket: the version commits (retry fence) but rewrites
    // zero bucket directories — write amplification is new-vocab-bounded
    VocabMaintenance.update(shelf, slices(0), 3L)
    assert(graft.streaming.VersionedState.committed(spark, shelf, 3L))
    assert(BucketedState.bucketDirs(spark, shelf, 3L) === Set.empty[Int])
    assert(fsMap(VocabMaintenance.firstSeen(spark, shelf)) === servedFs)

    // READ-side pruning (round 11): a 1-shingle batch derives ONE
    // candidate bucket and the fold reads only it — per-trigger compute
    // is O(batch's buckets), not O(vocabulary)
    import spark.implicits._
    val oneShingle = Seq((1000L, "alpha beta gamma")).toDF("doc_id", "text")
    val report = VocabMaintenance.update(shelf, oneShingle, 4L)
      .getOrElse(fail("fresh batch must fold, not fence"))
    assert(report.candidateBuckets.size === 1,
      s"1-shingle batch must read 1 bucket, read ${report.candidateBuckets}")
    assert(report.dirtyBuckets === report.candidateBuckets)
    assert(BucketedState.bucketDirs(spark, shelf, 4L) === report.dirtyBuckets)
    // ...and the pruning is PHYSICAL: a manifest-resolved read of that
    // bucket touches only bucket=<b> files on disk
    val (_, p, manifest) = BucketedState.latestManifest(spark, shelf).get
    val wantB = report.candidateBuckets.head
    val prunedFiles = BucketedState.read(spark, shelf,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("f",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("first_doc",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(BucketedState.BucketCol,
          org.apache.spark.sql.types.IntegerType))),
      manifest, Some(Set(wantB))).inputFiles
    assert(prunedFiles.nonEmpty &&
      prunedFiles.forall(_.contains(s"${BucketedState.BucketCol}=$wantB")),
      s"pruned read must touch only bucket=$wantB files: ${prunedFiles.toSeq}")

    // parity vs the FULL fold: a twin shelf folded through the
    // full-state foldCompact path converges to the identical state
    val shelfFull = tmpDir("vocab_state_full") + "/vocab"
    val fullSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("f",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("first_doc",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(BucketedState.BucketCol,
        org.apache.spark.sql.types.IntegerType)))
    (slices :+ oneShingle).zipWithIndex.foreach { case (b, i) =>
      val mins = b
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(TextOps.trigrams(col("w"))).as("s"))
        .select(col("doc_id"), xxhash64(col("s")).as("f"))
        .groupBy("f").agg(min(col("doc_id")).as("first_doc"))
      BucketedState.foldCompact(spark, shelfFull, i.toLong,
        VocabMaintenance.NumBuckets, fullSchema, "f", "vocabulary") { prev =>
        prev.unionByName(mins)
          .groupBy("f").agg(min(col("first_doc")).as("first_doc"))
      }
    }
    assert(fsMap(BucketedState.readState(spark, shelfFull, fullSchema,
        "vocabulary")
      .select(col("f"), col("first_doc"))) ===
      fsMap(VocabMaintenance.firstSeen(spark, shelf)))

    // SCHEMA-DRIFT guard: a round-10 vocab dir (raw shingle strings,
    // column `s`) opened by round-11 code (fingerprint column `f`) must
    // fail loudly on BOTH the fold and the read path — an explicit-
    // schema read would otherwise null the missing column for every
    // prior row and the next fold would silently corrupt the state
    import spark.implicits._
    val oldShelf = tmpDir("vocab_state_old") + "/vocab"
    val oldRows = Seq(("alpha beta gamma", 1L), ("beta gamma delta", 2L))
      .toDF("s", "first_doc")
      .withColumn(BucketedState.BucketCol,
        BucketedState.bucketOf(col("s"), VocabMaintenance.NumBuckets))
    BucketedState.commit(oldRows, oldShelf, 0L,
      VocabMaintenance.NumBuckets,
      (0 until VocabMaintenance.NumBuckets).toSet, Map.empty)
    val foldErr = intercept[IllegalStateException] {
      VocabMaintenance.update(oldShelf, oneShingle, 1L)
    }
    assert(foldErr.getMessage.contains("f"),
      s"error must name the missing column: ${foldErr.getMessage}")
    intercept[IllegalStateException] {
      VocabMaintenance.firstSeen(spark, oldShelf).count()
    }
  }

  test("live stats maintenance: streamed value counts == batch; q216 selectivity served from state; retry no-op; order-invariant; single-value batch dirties one bucket") {
    import graft.streaming.{BucketedState, StatsMaintenance}
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), expr("cast(round(value * 100, 0) as long)").as("v"))
    val slices = Seq(
      ev.filter(col("event_id") < 300),
      ev.filter(col("event_id") >= 300 && col("event_id") < 700),
      ev.filter(col("event_id") >= 700)).map(_.select(col("v")))
    def vcMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val shelf = tmpDir("stats_state") + "/stats"
    slices.zipWithIndex.foreach { case (b, i) =>
      StatsMaintenance.update(shelf, b, i.toLong) }
    val served = vcMap(StatsMaintenance.valueCounts(spark, shelf))
    val oneShot = vcMap(
      ev.groupBy("v").agg(count(lit(1)).as("cnt")))
    assert(served === oneShot && served.nonEmpty)

    // the estimate served FROM STATE equals the gated q216 equi-depth leg
    val q216 = SparkEntry.queries("q216_selectivity_estimate")(spark, sf)
      .filter(col("method") === "equi_depth")
      .select("est").collect().head.getLong(0)
    assert(StatsMaintenance.estimateRange(spark, shelf, 20000L, 40000L) === q216)

    // retried final batch: SUM is not idempotent, so this parity holds
    // only because the version fence short-circuits the refold
    StatsMaintenance.update(shelf, slices(2), 2L)
    assert(vcMap(StatsMaintenance.valueCounts(spark, shelf)) === served)

    // delivery-order invariance: the fold is commutative addition
    val shelf2 = tmpDir("stats_state2") + "/stats"
    slices.reverse.zipWithIndex.foreach { case (b, i) =>
      StatsMaintenance.update(shelf2, b, i.toLong) }
    assert(vcMap(StatsMaintenance.valueCounts(spark, shelf2)) === served)

    // a single-value batch READS exactly that value's bucket (round-11
    // pruned fold — per-trigger compute is O(batch's buckets), not
    // O(state)) and rewrites exactly that bucket directory, bumping
    // exactly that value's count
    import spark.implicits._
    val one = Seq(123L).toDF("v")
    val report = StatsMaintenance.update(shelf, one, 3L)
      .getOrElse(fail("fresh batch must fold, not fence"))
    val expectBucket = one
      .select(BucketedState.bucketOf(col("v"), StatsMaintenance.NumBuckets))
      .collect().head.getInt(0)
    assert(report.candidateBuckets === Set(expectBucket),
      s"single-value batch must read one bucket, read ${report.candidateBuckets}")
    assert(report.dirtyBuckets === Set(expectBucket))
    assert(BucketedState.bucketDirs(spark, shelf, 3L) === Set(expectBucket))
    val after = vcMap(StatsMaintenance.valueCounts(spark, shelf))
    assert(after(123L) === served.getOrElse(123L, 0L) + 1L)
    assert(after - 123L === served - 123L)
  }

  test("in-stream compaction for an engine-driven tenant: foldCompact at the engine's own id mid-stream; folds continue above it; retry no-op; no pointer behind the compaction") {
    import graft.streaming.{BucketedState, StatsMaintenance}
    import org.apache.spark.sql.DataFrame
    val src = tmpDir("statscompact_src")
    val batches = Seq(
      Seq(10L, 11L, 10L), Seq(10L, 20L), Seq(30L, 10L), Seq(20L, 30L, 40L))
    batches.zipWithIndex.foreach { case (vs, i) =>
      Files.write(Paths.get(s"$src/part$i.txt"),
        vs.mkString("\n").getBytes)
    }
    val shelf = tmpDir("statscompact_state") + "/stats"
    def vals(df: DataFrame) = df.select(col("value").cast("long").as("v"))
    // ENGINE-assigned ids drive both forms: trigger 2 compacts in-stream
    // (fold the batch, republish every bucket at the engine's id), all
    // other triggers fold pruned. The
    // compaction id is the engine's own, so no future batch can be
    // shadowed and the retry fence keeps its meaning.
    val q = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
      .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        if (id == 2L) StatsMaintenance.compactUpdate(shelf, vals(b), id)
        else StatsMaintenance.update(shelf, vals(b), id): Unit
      }.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("statscompact_ckpt")).start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    def vcMap(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the compacting trigger's OWN batch was folded, not skipped — total
    // counts equal the one-shot aggregation over all four batches
    val served = vcMap(StatsMaintenance.valueCounts(spark, shelf))
    val oneShot = vcMap(vals(spark.read.text(src))
      .groupBy("v").agg(count(lit(1)).as("cnt")))
    assert(served === oneShot && served.nonEmpty)

    // resolution order: the post-compaction fold (engine id 3) resolves
    // as the newest version, and NO manifest pointer reaches behind the
    // compaction point — every bucket re-homed at id 2 or moved above it
    val (v, _, manifest) = BucketedState.latestManifest(spark, shelf).get
    assert(v === 3L)
    assert(manifest.values.toSet.subsetOf(Set(2L, 3L)),
      s"pointer behind the compaction point: $manifest")
    // reader grace: compaction must NOT yank pre-compaction versions
    // from an in-flight reader — they age out through the normal
    // reference-driven retention, not at the compaction instant
    val fs = new org.apache.hadoop.fs.Path(shelf)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def vdirs = fs.listStatus(new org.apache.hadoop.fs.Path(shelf))
      .map(_.getPath.getName).filter(_.startsWith("v=")).toSet
    assert(Set("v=0", "v=1", "v=2", "v=3").subsetOf(vdirs),
      s"compaction yanked a pre-compaction version: $vdirs")

    // retried compaction batch: the fence short-circuits (fold and
    // rewrite landed in ONE atomic rename), so counts must not change —
    // and a retried post-compaction fold fences the same way
    StatsMaintenance.compactUpdate(shelf, vals(spark.read.text(src)), 2L)
    assert(vcMap(StatsMaintenance.valueCounts(spark, shelf)) === served)
    assert(StatsMaintenance.update(shelf, vals(spark.read.text(src)), 3L)
      .isEmpty, "retried batch must fence, not refold")
    assert(vcMap(StatsMaintenance.valueCounts(spark, shelf)) === served)

    // ...and once the retention horizon passes (4 newer manifests), the
    // pre-compaction versions DO prune — compaction's file-listing bound
    // arrives, just reader-safely
    import spark.implicits._
    (4L to 5L).foreach { id =>
      StatsMaintenance.update(shelf, Seq(10L).toDF("v"), id): Unit }
    assert((vdirs & Set("v=0", "v=1")) === Set.empty[String],
      s"pre-compaction versions survived the retention horizon: $vdirs")
    val finalCounts = vcMap(StatsMaintenance.valueCounts(spark, shelf))
    assert(finalCounts(10L) === served(10L) + 2L)
    assert(finalCounts - 10L === served - 10L)
  }

  // ---- shared mini-tenant for the layout-lifecycle tests below: the
  // stats shape (v → cnt, SUM fold) driven straight through the
  // BucketedState protocol so fan-out and ids are test-controlled ----
  private val vcntSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cnt",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField(
      graft.streaming.BucketedState.BucketCol,
      org.apache.spark.sql.types.IntegerType)))

  private def vcounts(vs: Seq[Long]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    vs.toDF("v").groupBy("v").agg(count(lit(1)).as("cnt"))
  }

  private def vfold(dir: String, id: Long, vs: Seq[Long])
      : Option[graft.streaming.BucketedState.PrunedFold] =
    graft.streaming.BucketedState.foldCommitPruned(spark, dir, id, 8,
      vcntSchema, "v", "vcnt")(vcounts(vs)) {
      (prev, batch) => prev.unionByName(batch)
        .groupBy("v").agg(sum(col("cnt")).as("cnt"))
    }

  private def vread(dir: String): Map[Long, Long] =
    graft.streaming.BucketedState.readState(spark, dir, vcntSchema, "vcnt")
      .select(col("v"), col("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("re-bucketing via foldCompact: a tenant grows p=8 to p=16 mid-stream; folds continue above at the on-disk fan-out; parity held; shrink refused before the retry fence") {
    import graft.streaming.BucketedState
    val shelf = tmpDir("rebucket_state") + "/vcnt"
    vfold(shelf, 0L, Seq(1L, 2L, 3L, 1L))
    vfold(shelf, 1L, Seq(2L, 4L))
    assert(BucketedState.latestManifest(spark, shelf).get._2 === 8)
    assert(vread(shelf) === Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))

    // the growth trigger: fold batch 2 AND re-home every row under p=16
    // in the same atomic rewrite (SCALE.md sizes p ≈ state / 128 MB — a
    // growing tenant must be able to raise p without a reseed)
    def grow2(fold: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Unit =
      BucketedState.foldCompact(spark, shelf, 2L, 16, vcntSchema, "v",
        "vcnt")(fold)
    grow2 { prev =>
      prev.unionByName(vcounts(Seq(5L, 1L)))
        .groupBy("v").agg(sum(col("cnt")).as("cnt"))
    }
    val (v2, p2, manifest2) = BucketedState.latestManifest(spark, shelf).get
    assert(v2 === 2L && p2 === 16)
    assert(manifest2 === (0 until 16).map(_ -> 2L).toMap,
      "every new-fan-out bucket must re-home at the compaction id")
    // rows really moved to their p=16 homes (partition dirs match the
    // new hash, not the old one)
    val expectedDirs = vcounts(Seq(1L, 2L, 3L, 4L, 5L))
      .select(BucketedState.bucketOf(col("v"), 16)).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(BucketedState.bucketDirs(spark, shelf, 2L) === expectedDirs)
    assert(vread(shelf) ===
      Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 1L))

    // RETRIED grow batch (crash after the rename, before the checkpoint
    // offset commit): the ordinary retry fence finds its own version
    grow2 { prev => fail("retried grow batch must fence, not refold"); prev }
    assert(vread(shelf) ===
      Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 1L))

    // folds continue ABOVE the grow at the on-disk fan-out (vfold's 8
    // only lays out an empty dir); a single-value batch prunes to its
    // p=16 bucket
    vfold(shelf, 3L, Seq(4L, 6L))
    val rep = vfold(shelf, 4L, Seq(9L))
      .getOrElse(fail("fresh batch must fold, not fence"))
    val b9 = vcounts(Seq(9L))
      .select(BucketedState.bucketOf(col("v"), 16)).collect().head.getInt(0)
    assert(rep.candidateBuckets === Set(b9) && rep.dirtyBuckets === Set(b9))
    assert(rep.unprunedScans === 0)
    assert(BucketedState.latestManifest(spark, shelf).get._2 === 16)
    assert(vread(shelf) === Map(1L -> 3L, 2L -> 2L, 3L -> 1L,
      4L -> 2L, 5L -> 1L, 6L -> 1L, 9L -> 1L))

    // a compacting fold at a target BELOW the on-disk p is refused
    // (grow-only) — at a fresh id, and at an already-committed id (4),
    // because the check runs before the retry fence
    Seq(5L, 4L).foreach { id =>
      val err = intercept[IllegalArgumentException] {
        BucketedState.foldCompact(spark, shelf, id, 8, vcntSchema, "v",
          "vcnt") { prev => fail("a shrink must not fold"); prev }
      }
      assert(err.getMessage.contains("GROW") &&
        err.getMessage.contains("p=16"), err.getMessage)
    }
    assert(BucketedState.latestManifest(spark, shelf).get._1 === 4L)
  }

  test("re-bucket matrix: every BucketedState tenant family (vocab, stats, join-view, dup-cluster) compacts at its constant, grows 8→16 through foldCompact and folds on at the on-disk p — parity with plain folds, fenced retry, shrink refused, readers follow the on-disk p") {
    import graft.streaming.{BucketedState, DupClusterMaintenance,
      JoinViewMaintenance, StatsMaintenance, VocabMaintenance}
    import org.apache.spark.sql.types.StructType
    import spark.implicits._

    // fixed per-batch inputs, overlapping keys across batches so every
    // tenant's fold (MIN, SUM, LWW join, closure) has real work to do
    def docsB(i: Int) = (0 until 3).map { j =>
      val d = i * 3 + j
      (d.toLong, s"tok${d % 7} tok${(d + 1) % 7} tok${(d + 2) % 7} tok${d % 5}")
    }.toDF("doc_id", "text")
    def valsB(i: Int) = Seq(i.toLong, i + 1L, 7L, 42L).toDF("v")
    val lB: Map[Int, Seq[(Long, Long, String, String)]] = Map(
      0 -> Seq((1L, 10L, "a1", "upsert"), (2L, 20L, "b1", "upsert")),
      1 -> Seq((3L, 10L, "c1", "upsert"), (2L, 20L, "b1", "delete")),
      2 -> Seq((4L, 30L, "d1", "upsert")),
      3 -> Seq((1L, 20L, "a2", "upsert")),
      4 -> Seq((9L, 10L, "e1", "upsert"))) // only the shrink probe
    val rB: Map[Int, Seq[(Long, String, String)]] = Map(
      0 -> Seq((10L, "X", "upsert"), (20L, "Y", "upsert")),
      1 -> Seq((10L, "X2", "upsert")),
      2 -> Seq((30L, "Z", "upsert")),
      3 -> Seq((20L, "Y2", "upsert")),
      4 -> Seq((40L, "W", "upsert"))) // only the shrink probe
    def edgesB(i: Int) = Map(
      0 -> Seq((1L, 2L), (3L, 4L)), 1 -> Seq((2L, 3L)),
      2 -> Seq((5L, 6L)), 3 -> Seq((4L, 5L)),
      4 -> Seq((7L, 8L)))(i).toDF("a_id", "b_id") // 4: shrink probe

    // fold/compact take (dir, version id, input batch index)
    case class T(name: String,
                 fold: (String, Long, Int) => Unit,
                 compact: (String, Long, Int) => Unit,
                 schema: StructType, key: String,
                 read: String => Set[String])
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    def jvL(i: Int) = lB(i).toDF("pk", "fk", "payload", "op")
    def jvR(i: Int) = rB(i).toDF("pk", "payload", "op")
    val tenants = Seq(
      T("vocab",
        (d, id, i) => VocabMaintenance.update(d, docsB(i), id): Unit,
        (d, id, i) => VocabMaintenance.compactUpdate(d, docsB(i), id),
        VocabMaintenance.stateSchema, "f",
        d => rows(VocabMaintenance.firstSeen(spark, d))),
      T("stats",
        (d, id, i) => StatsMaintenance.update(d, valsB(i), id): Unit,
        (d, id, i) => StatsMaintenance.compactUpdate(d, valsB(i), id),
        StatsMaintenance.stateSchema, "v",
        d => rows(StatsMaintenance.valueCounts(spark, d))),
      T("join-view",
        (d, id, i) => JoinViewMaintenance.update(d, jvL(i), jvR(i), id),
        (d, id, i) => JoinViewMaintenance.compactUpdate(d, jvL(i), jvR(i), id),
        JoinViewMaintenance.stateSchema, "k1",
        d => rows(JoinViewMaintenance.view(spark, d))),
      T("dup-cluster",
        (d, id, i) => DupClusterMaintenance.update(d, edgesB(i), id): Unit,
        (d, id, i) => DupClusterMaintenance.compactUpdate(d, edgesB(i), id),
        DupClusterMaintenance.stateSchema, "id",
        d => rows(DupClusterMaintenance.labels(spark, d))))

    tenants.foreach { t =>
      // reference: the same four batches folded PLAINLY at the constant
      val ref = tmpDir(s"rbm_${t.name}_ref") + "/state"
      (0 to 3).foreach(i => t.fold(ref, i.toLong, i))
      val expect = t.read(ref)
      assert(expect.nonEmpty, s"${t.name}: reference state empty — vacuous")

      // device under test: 2 plain folds at the constant, batch 2
      // through the tenant's own compacting fold (and its retry, which
      // must fence, not refold), an identity grow 8→16 at id 3, and
      // batch 3 folded plainly above it at the on-disk p
      val dut = tmpDir(s"rbm_${t.name}") + "/state"
      t.fold(dut, 0L, 0)
      t.fold(dut, 1L, 1)
      t.compact(dut, 2L, 2)
      t.compact(dut, 2L, 2)
      assert(BucketedState.latestManifest(spark, dut).get._2 === 8)
      BucketedState.foldCompact(spark, dut, 3L, 16, t.schema, t.key,
        t.name)(identity)
      t.fold(dut, 4L, 3)
      val (v, p, _) = BucketedState.latestManifest(spark, dut).get
      assert(v === 4L && p === 16, s"${t.name}: v=$v p=$p")
      // the reader names no fan-out and answers at p=16
      assert(t.read(dut) === expect,
        s"${t.name}: state diverged after the 8→16 re-bucket")

      // the tenant's compacting fold targets its constant (8), which
      // would shrink the p=16 dir — refused, loud, not silent
      val err = intercept[IllegalArgumentException](t.compact(dut, 5L, 4))
      assert(err.getMessage.contains("GROW") && err.getMessage.contains("p=16"),
        s"${t.name}: shrink not refused: ${err.getMessage}")
    }
  }

  test("state-rewrite guards: a compacting fold refuses a schema-drifted dir; an out-of-band reseed at the same path re-verifies despite the process cache") {
    import graft.streaming.BucketedState
    import spark.implicits._
    // a dir whose on-disk column is `s` (the drift: tenant expects `v`)
    val drifted = Seq(("a", 1L), ("b", 2L)).toDF("s", "cnt")
      .withColumn(BucketedState.BucketCol,
        BucketedState.bucketOf(col("s"), 8))
    val shelf = tmpDir("compact_drift") + "/vcnt"
    BucketedState.commit(drifted, shelf, 0L, 8, (0 until 8).toSet, Map.empty)
    // a compacting fold rewrites every bucket: an unguarded
    // explicit-schema read would null the missing column and republish
    // that as the full state
    val err = intercept[IllegalStateException] {
      BucketedState.foldCompact(spark, shelf, 1L, 8, vcntSchema, "v",
        "vcnt")(identity)
    }
    assert(err.getMessage.contains("v") &&
      err.getMessage.contains("Reseed"),
      s"a compacting fold must hit the drift guard, got: ${err.getMessage}")

    // version-keyed verification cache: a dir that PASSED verification
    // gets reseeded out-of-band (fs-level, no in-process commit) with a
    // drifted schema at a NEW version id — the next read must re-verify
    // and throw, not skip on the stale per-dir cache entry
    val shelf2 = tmpDir("reseed_cache") + "/vcnt"
    vfold(shelf2, 0L, Seq(1L, 2L))
    assert(vread(shelf2) === Map(1L -> 1L, 2L -> 1L)) // cache primed
    val side = tmpDir("reseed_side") + "/vcnt"
    BucketedState.commit(drifted, side, 1L, 8, (0 until 8).toSet, Map.empty)
    val fs = new org.apache.hadoop.fs.Path(shelf2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$shelf2/v=0"), true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$side/v=1"),
      new org.apache.hadoop.fs.Path(s"$shelf2/v=1")))
    val err2 = intercept[IllegalStateException] { vread(shelf2) }
    assert(err2.getMessage.contains("v=1"),
      s"reseed at the same path must re-verify: ${err2.getMessage}")

    // the join view's readers go through the same guard: a dir whose
    // right-payload column is renamed fails instead of reading NULLs
    val jvShelf = tmpDir("jv_drift") + "/jv"
    val jvDrifted = Seq(("V", "1", "10", "a1", "X")).toDF("rel", "k1", "k2",
        "pay1", "right_payload")
      .withColumn(BucketedState.BucketCol,
        BucketedState.bucketOf(col("k1"), 8))
    BucketedState.commit(jvDrifted, jvShelf, 0L, 8, (0 until 8).toSet,
      Map.empty)
    val err3 = intercept[IllegalStateException] {
      graft.streaming.JoinViewMaintenance.view(spark, jvShelf).collect()
    }
    assert(err3.getMessage.contains("pay2"),
      s"join-view read must hit the drift guard: ${err3.getMessage}")
  }

  test("versioned publish, flat and bucketed: a crashed staging is invisible and its retry republishes; a retry over a published version drops its staging; retention keeps the newest 4 versions and what their manifests reference") {
    import graft.streaming.{BucketedState, StatsMaintenance, VersionedState}
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(tmpDir("publish_fs"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    def versions(dir: String) = VersionedState.listVersions(spark, dir).toSet
    def junkStaging(dir: String, id: Long): String = {
      val st = VersionedState.stagingPath(dir, id)
      Seq((99L, 99L)).toDF("v", "cnt").write.mode("overwrite").parquet(st)
      st
    }

    // ---- flat: a SUM shelf through VersionedState.fold ----
    val flat = tmpDir("publish_flat") + "/vcnt"
    def ffold(id: Long, vs: Seq[Long]): Unit =
      VersionedState.fold(spark, flat, id) { old =>
        (old.toSeq :+ vcounts(vs)).reduce(_ unionByName _)
          .groupBy("v").agg(sum(col("cnt")).as("cnt"))
      }
    def fread(): Map[Long, Long] =
      VersionedState.readState(spark, flat, "vcnt").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    ffold(0L, Seq(1L, 2L))
    ffold(1L, Seq(2L))
    val before = Map(1L -> 1L, 2L -> 2L)
    // 1. crash before the rename: the staging is invisible…
    val st2 = junkStaging(flat, 2L)
    assert(fread() === before && VersionedState.latest(spark, flat) === Some(1L))
    // …and the retry with the same id rebuilds and republishes it
    ffold(2L, Seq(3L))
    assert(fread() === before + (3L -> 1L) && !exists(st2))
    // 2. a retry that finds v=2 published drops its staging, changes nothing
    junkStaging(flat, 2L)
    VersionedState.publish(spark, flat, 2L)
    assert(!exists(st2) && fread() === before + (3L -> 1L))
    ffold(2L, Seq(7L)) // the fence: no refold
    assert(fread() === before + (3L -> 1L))
    // 3. an older crashed staging is reaped by the next publish, and
    // exactly the newest 4 flat versions stay
    val st1 = junkStaging(flat, 1L)
    (3L to 8L).foreach(id => ffold(id, Seq(4L)))
    assert(!exists(st1), "a crashed older staging survived a publish")
    assert(versions(flat) === Set(5L, 6L, 7L, 8L))
    assert(fread() === before + (3L -> 1L) + (4L -> 6L))

    // ---- bucketed: the stats tenant through StatsMaintenance.update ----
    val dir = tmpDir("publish_bucketed") + "/stats"
    def sread(): Map[Long, Long] = StatsMaintenance.valueCounts(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p = StatsMaintenance.NumBuckets
    val bucketOfV = (0L until 64L).toDF("v")
      .select(col("v"), BucketedState.bucketOf(col("v"), p))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(bucketOfV.values.toSet.size === p, "64 values must cover every bucket")
    val a = 0L
    val b = bucketOfV.collectFirst { case (v, bk) if bk != bucketOfV(a) => v }.get
    StatsMaintenance.update(dir, (0L until 64L).toDF("v"), 0L)
    val base = (0L until 64L).map(_ -> 1L).toMap
    // 1. crash before the rename (data and _MANIFEST staged): invisible…
    val sst = junkStaging(dir, 1L)
    val out = fs.create(new org.apache.hadoop.fs.Path(sst, "_MANIFEST"))
    try out.write(s"p=$p\n0=1".getBytes("UTF-8")) finally out.close()
    assert(sread() === base &&
      BucketedState.latestManifest(spark, dir).get._1 === 0L)
    // …and the retry with the same id republishes
    assert(StatsMaintenance.update(dir, Seq(a).toDF("v"), 1L).nonEmpty)
    val after1 = base + (a -> 2L)
    assert(sread() === after1 && !exists(sst))
    val (v1, p1, m1) = BucketedState.latestManifest(spark, dir).get
    // 2. a retry over the published version drops its staging, changes
    // nothing
    junkStaging(dir, 1L)
    VersionedState.publish(spark, dir, 1L)
    assert(!exists(sst) && sread() === after1)
    assert(BucketedState.latestManifest(spark, dir).get === ((v1, p1, m1)))
    assert(StatsMaintenance.update(dir, Seq(b).toDF("v"), 1L).isEmpty)
    // 3. b's bucket changes owner every batch; the newest 4 manifests
    // (v=3..6) still point at v=0 (the untouched buckets) and v=1 (a's
    // bucket), so only v=2 goes
    (2L to 6L).foreach { id =>
      StatsMaintenance.update(dir, Seq(b).toDF("v"), id): Unit }
    assert(versions(dir) === Set(0L, 1L, 3L, 4L, 5L, 6L))
    assert(sread() === after1 + (b -> (base(b) + 5L)))
  }

  test("streaming copy detection: alert union across triggers equals the one-shot q224 answer; retried batch rewrites identical alerts; probe prunes to the batch's buckets") {
    import graft.streaming.CopyDetectMaintenance
    import org.apache.spark.sql.DataFrame

    // the SAME planted corpus the q224/q225 gates use (one copy of the
    // plant), split into 4 doc_id-ordered files → 4 triggers. Parity
    // must hold for ANY split: a pair alerts in the later doc's trigger
    // (cross-probe) or their shared trigger (self-join), exactly once.
    val docs = graft.queries.Text.plantedCopyDocs(spark, sf)
      .localCheckpoint()
    assert(docs.count() > 0)
    val src = tmpDir("copydetect_src")
    (0 until 4).foreach { i =>
      docs.filter(col("doc_id") % 4 === i)
        .repartition(1).write.mode("append").parquet(src)
    }
    val idx = tmpDir("copydetect_state") + "/index"
    val alertDir = tmpDir("copydetect_state") + "/alerts"
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        CopyDetectMaintenance.update(idx, alertDir, b, id,
          idCol = "doc_id", textCol = "t")
      }.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("copydetect_ckpt")).start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    def rows(df: DataFrame): Set[String] =
      df.select("a_id", "b_id", "shared", "a_lo", "a_hi", "b_lo", "b_hi")
        .collect().map(_.toString).toSet
    val got = rows(CopyDetectMaintenance.alerts(spark, alertDir))

    // EMPTY FIRST BATCH regression pin (round-13 review): a partitioned
    // write of zero selections commits only _SUCCESS — no data file —
    // and the old root-read probe crash-looped every later trigger on
    // schema inference. A fresh tenant fed an empty batch 0 must keep
    // folding and alerting normally.
    {
      val idx2 = tmpDir("copydetect_empty") + "/index"
      val al2 = tmpDir("copydetect_empty") + "/alerts"
      CopyDetectMaintenance.update(idx2, al2,
        docs.filter(lit(false)), 0L, idCol = "doc_id", textCol = "t")
      CopyDetectMaintenance.update(idx2, al2, docs, 1L,
        idCol = "doc_id", textCol = "t")
      assert(rows(CopyDetectMaintenance.alerts(spark, al2)) === got,
        "empty batch 0 broke the later trigger's probe or alerts")
    }
    val oneShot = rows(
      SparkEntry.queries("q224_copy_detection")(spark, sf))
    assert(oneShot.nonEmpty, "planted corpus produced no pairs — vacuous")
    assert(got === oneShot,
      s"streaming alerts diverged from the one-shot answer: " +
        s"missing=${oneShot -- got} extra=${got -- oneShot}")

    // RETRY: re-run the LAST batch (its commit already landed) — the
    // probe must see only batch_id < 3, so the rewritten alert dir and
    // therefore the union are byte-identical
    val lastBatch = docs.filter(col("doc_id") % 4 === 3)
    CopyDetectMaintenance.update(idx, alertDir, lastBatch, 3L,
      idCol = "doc_id", textCol = "t")
    assert(rows(CopyDetectMaintenance.alerts(spark, alertDir)) === got,
      "retried batch changed the alert union")

    // the steady-state probe reads ONLY the incoming batch's fingerprint
    // buckets of earlier batches — never the whole index
    import graft.text.CopyIndex
    val oneDoc = CopyIndex.selections(
      docs.filter(col("doc_id") === 1), "doc_id", "t")
    val want = CopyIndex.bucketsOf(oneDoc).toSet
    assert(want.nonEmpty && want.size < CopyIndex.DefaultBuckets)
    val touched = spark.read.parquet(idx)
      .filter(col("batch_id") < 1 &&
        col("bucket").isin(want.toSeq: _*))
      .select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(touched.nonEmpty &&
      touched.forall(f => f.contains("batch_id=0/") &&
        want.exists(b => f.contains(s"bucket=$b/"))),
      s"probe read outside batch 0's buckets $want: ${touched.mkString(", ")}")
  }

  test("copy-detect consolidation: parity vs q224 across a fold boundary; probe's listed-dir count drops and stays bounded; straddling retry rewrites identical alerts; alert dirs fold under the schema contract") {
    import graft.streaming.CopyDetectMaintenance
    import graft.text.CopyIndex
    import org.apache.spark.sql.DataFrame

    // 8 doc_id-ordered splits -> 8 triggers with consolidateAfter = 3:
    // folds MUST fire mid-stream (tail grows past 3 twice), so parity
    // below proves the consolidated dir carries exactly the folded
    // batches' selections and alerts
    val docs = graft.queries.Text.plantedCopyDocs(spark, sf)
      .localCheckpoint()
    val src = tmpDir("copyconsol_src")
    (0 until 8).foreach { i =>
      docs.filter(col("doc_id") % 8 === i)
        .repartition(1).write.mode("append").parquet(src)
    }
    val idx = tmpDir("copyconsol_state") + "/index"
    val alertDir = tmpDir("copyconsol_state") + "/alerts"
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        CopyDetectMaintenance.update(idx, alertDir, b, id,
          idCol = "doc_id", textCol = "t", consolidateAfter = 3)
      }.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("copyconsol_ckpt")).start()
    assert(q.awaitTermination(180000), "stream did not finish in 180s")

    def rows(df: DataFrame): Set[String] =
      df.select("a_id", "b_id", "shared", "a_lo", "a_hi", "b_lo", "b_hi")
        .collect().map(_.toString).toSet
    val got = rows(CopyDetectMaintenance.alerts(spark, alertDir))
    val oneShot = rows(
      SparkEntry.queries("q224_copy_detection")(spark, sf))
    assert(oneShot.nonEmpty, "planted corpus produced no pairs — vacuous")
    assert(got === oneShot,
      s"post-fold alerts diverged from the one-shot answer: " +
        s"missing=${oneShot -- got} extra=${got -- oneShot}")

    // the LISTED-DIR BOUND — the defect consolidation exists to fix: a
    // probe at batch 8 lists the latest consol + a tail no longer than
    // the threshold, NOT the stream's 8 batch dirs
    val (consol, tail) = CopyDetectMaintenance.indexParts(spark, idx, 8L)
    assert(consol.isDefined, "no committed consolidated dir after 8 triggers")
    // bound is threshold + 1: the fold runs AFTER a batch's own probe
    // and write, so the next probe can see at most after+1 tail dirs
    assert(tail.size <= 3 + 1,
      s"probe tail ${tail} exceeds consolidateAfter + 1 — fold did not bound the listing")
    assert(1 + tail.size < 8,
      "listed-dir count did not drop below the trigger count")
    // ... and the folded batch dirs are physically gone (lazy cleanup ran)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDirsLeft = fs.listStatus(new org.apache.hadoop.fs.Path(idx))
      .map(_.getPath.getName).count(_.startsWith("batch_id="))
    assert(batchDirsLeft === tail.size,
      s"stale batch dirs survived the fold: $batchDirsLeft vs tail ${tail.size}")
    // the consolidated dir is a real CopyIndex layout (marker verified)
    CopyIndex.verifyFanout(spark, s"$idx/consol_id=${consol.get}",
      CopyIndex.DefaultBuckets)

    // RETRY STRADDLING THE FOLD: re-run the last batch — its probe must
    // read {consol, tail < 7}, the same union as the original attempt,
    // so the rewritten alert dir leaves the union byte-identical
    val lastBatch = docs.filter(col("doc_id") % 8 === 7)
    CopyDetectMaintenance.update(idx, alertDir, lastBatch, 7L,
      idCol = "doc_id", textCol = "t", consolidateAfter = 3)
    assert(rows(CopyDetectMaintenance.alerts(spark, alertDir)) === got,
      "retried batch across the consolidation boundary changed the union")

    // ALERT SCHEMA CONTRACT: the consolidated alert read depends on the
    // pinned schema (empty tails carry no footers to infer from) — a
    // drift between the update()'s select and the contract must fail
    // HERE, not as silent nulls in production
    val aDirs = fs.listStatus(new org.apache.hadoop.fs.Path(alertDir))
      .map(_.getPath).filter(_.getName.startsWith("batch_id="))
    val withData = aDirs.find(d => fs.listStatus(d)
      .exists(f => f.getPath.getName.endsWith(".parquet") && f.getLen > 0))
    assert(withData.isDefined, "no alert batch dir with data to pin against")
    val written = spark.read.parquet(withData.get.toString).schema
    val contract = org.apache.spark.sql.types.StructType(
      CopyDetectMaintenance.alertSchema.dropRight(1))
    assert(written === contract,
      s"alert dir schema drifted from the contract: $written vs $contract")
  }

  test("coverage alert mode: per-document rollup parity with the pair mode across fold boundaries; the write is bounded by the batch; forget drops exactly the victim's coverage rows") {
    import graft.streaming.CopyDetectMaintenance
    val docs = graft.queries.Text.plantedCopyDocs(spark, sf).localCheckpoint()
    val rootA = tmpDir("cov_pairs")
    val rootB = tmpDir("cov_agg")
    (0 until 4).foreach { i =>
      val b = docs.filter(col("doc_id") % 4 === i)
      CopyDetectMaintenance.update(s"$rootA/index", s"$rootA/alerts", b,
        i.toLong, idCol = "doc_id", textCol = "t", consolidateAfter = 1)
      CopyDetectMaintenance.update(s"$rootB/index", s"$rootB/alerts", b,
        i.toLong, idCol = "doc_id", textCol = "t", consolidateAfter = 1,
        aggregateAlerts = true)
    }

    // PARITY: coverage == an independent per-batch rollup of the raw
    // pair mode, credited to each doc's own trigger (doc_id % 4 is the
    // batch assignment above) — including across the fold boundary
    // both tenants crossed (consolidateAfter = 1)
    val pairs = CopyDetectMaintenance.alerts(spark, s"$rootA/alerts")
      .localCheckpoint()
    assert(pairs.count() > 0, "planted corpus produced no pairs — vacuous")
    val sideA = pairs.select(col("a_id").as("doc_id"),
      col("b_id").as("partner"), col("shared"),
      col("a_lo").as("lo"), col("a_hi").as("hi"), col("batch_id"))
    val sideB = pairs.select(col("b_id").as("doc_id"),
      col("a_id").as("partner"), col("shared"),
      col("b_lo").as("lo"), col("b_hi").as("hi"), col("batch_id"))
    val want = sideA.unionByName(sideB)
      .filter(col("doc_id") % 4 === col("batch_id"))
      .groupBy("doc_id", "batch_id")
      .agg(countDistinct(col("partner")).as("n_partners"),
        sum(col("shared")).as("shared_total"),
        max(col("shared")).as("shared_max"),
        min(col("lo")).as("lo"), max(col("hi")).as("hi"))
      .select("doc_id", "n_partners", "shared_total", "shared_max",
        "lo", "hi", "batch_id")
      .collect().map(_.toString).toSet
    def covRows(): Set[String] =
      CopyDetectMaintenance.coverage(spark, s"$rootB/alerts")
        .select("doc_id", "n_partners", "shared_total", "shared_max",
          "lo", "hi", "batch_id")
        .collect().map(_.toString).toSet
    val got = covRows()
    assert(got === want,
      s"coverage diverged from the pair rollup: missing=${want -- got} extra=${got -- want}")

    // BOUNDED WRITE: per trigger, coverage rows ≤ that batch's docs —
    // the whole point on replica-heavy corpora where pairs are
    // quadratic (and never more rows than the pair mode emitted)
    val perBatch = CopyDetectMaintenance.coverage(spark, s"$rootB/alerts")
      .groupBy("batch_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 4).foreach { i =>
      val batchDocs = docs.filter(col("doc_id") % 4 === i).count()
      assert(perBatch.getOrElse(i.toLong, 0L) <= batchDocs,
        s"trigger $i wrote ${perBatch.get(i.toLong)} coverage rows for $batchDocs docs")
    }
    assert(got.size <= pairs.count() * 2,
      "coverage emitted more rows than the raw relation could justify")

    // LAYOUT-DRIFT refusal: the mode is a persisted per-tenant
    // constant — a mis-matched reader or updater must fail loudly,
    // never read silent nulls through the wrong schema
    intercept[IllegalArgumentException](
      CopyDetectMaintenance.alerts(spark, s"$rootB/alerts"))
    intercept[IllegalArgumentException](
      CopyDetectMaintenance.coverage(spark, s"$rootA/alerts"))
    intercept[IllegalArgumentException](
      CopyDetectMaintenance.update(s"$rootB/index", s"$rootB/alerts",
        docs.filter(col("doc_id") % 4 === 0), 4L,
        idCol = "doc_id", textCol = "t")) // pairs update on a coverage tenant

    // FORGET (coverage layout, resolved from the tenant's own marker):
    // the victim's rows are its whole per-document footprint — partner
    // ids are not stored
    val victim = CopyDetectMaintenance.coverage(spark, s"$rootB/alerts")
      .select("doc_id").first().getLong(0)
    CopyDetectMaintenance.forget(spark, s"$rootB/index", s"$rootB/alerts",
      Seq(victim))
    val after = covRows()
    assert(after === got.filterNot(_.startsWith(s"[$victim,")),
      "coverage forget changed rows beyond the victim's")

    // LEGACY-RESUME refusal: a pre-marker alert root (pairs layout by
    // definition — every coverage tenant stamps before its first write)
    // must REFUSE a coverage resume instead of stamping 'coverage' onto
    // pair-schema history, after which forget()'s doc_id predicate
    // would read nulls through the old pair files and delete nothing
    val fsA = new org.apache.hadoop.fs.Path(s"$rootA/alerts")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsA.delete(new org.apache.hadoop.fs.Path(s"$rootA/alerts/_ALERT_MODE"),
      false)
    intercept[IllegalArgumentException](
      CopyDetectMaintenance.update(s"$rootA/index", s"$rootA/alerts",
        docs.filter(col("doc_id") % 4 === 0), 4L,
        idCol = "doc_id", textCol = "t", aggregateAlerts = true))
    assert(!fsA.exists(
      new org.apache.hadoop.fs.Path(s"$rootA/alerts/_ALERT_MODE")),
      "the refused coverage resume stamped a mode marker anyway")
    // resuming as PAIRS is the legal path: it re-stamps 'pairs' and the
    // tenant keeps serving
    CopyDetectMaintenance.update(s"$rootA/index", s"$rootA/alerts",
      docs.filter(col("doc_id") % 4 === 0), 4L,
      idCol = "doc_id", textCol = "t")
    assert(CopyDetectMaintenance.alerts(spark, s"$rootA/alerts")
      .count() >= pairs.count(), "the pairs resume lost alert history")
  }

  test("streaming IVF ingest: appended vectors serve identically to an inline scan under the same frozen centroids; a planted arrival is retrievable; a retried batch changes nothing; a distribution-shifted batch flags retrain_due") {
    import graft.functions.Ivf
    import graft.streaming.IvfIngestMaintenance
    import org.apache.spark.sql.DataFrame

    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint()
    val query = e.filter(col("vec_id") === 0).localCheckpoint()
    val base = e.filter(col("vec_id") % 2 === 0 && col("vec_id") =!= 0)
    // arrivals = the odd half ∪ one planted near-copy of the query —
    // the appended half must be RETRIEVABLE, not just written
    val planted = query.select(lit(1000000000001L).as("vec_id"),
      transform(col("v"), (x, j) => when(j === 0, x + lit(0.02)).otherwise(x))
        .as("v"))
    val arrivals = e.filter(col("vec_id") % 2 =!= 0).unionByName(planted)
      .localCheckpoint()

    val idx = tmpDir("ivf_ingest_state") + "/index"
    Ivf.writeIndex(base, "vec_id", "v", nlist = 8, idx,
      iters = 2, sampleMod = 7)
    IvfIngestMaintenance.writeBaseline(spark, idx, sampleMod = 7)

    val src = tmpDir("ivf_ingest_src")
    (0 until 3).foreach { i =>
      arrivals.filter(col("vec_id") % 3 === i)
        .repartition(1).write.mode("append").parquet(src)
    }
    val q = spark.readStream.schema(arrivals.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        // consolidateAfter = 1: the batch-dir fold MUST fire mid-stream
        // so the parity/retry checks below cover the folded layout
        IvfIngestMaintenance.update(idx, b, id, idCol = "vec_id",
          vecCol = "v", consolidateAfter = 1)
      }.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("ivf_ingest_ckpt")).start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    def live(): Seq[String] = IvfIngestMaintenance
      .topKLive(spark, idx, query, "v", k = 10, nprobe = 3)
      .select(col("nn_id"), round(col("sim"), 9).as("s"))
      .collect().map(_.toString).toSeq
    val got = live()
    // the planted arrival (cos ≈ 1) must be the live top-1 — losing the
    // appended half would silently cap recall at the base corpus
    assert(got.head.startsWith("[1000000000001,"),
      s"planted arrival not served first: ${got.take(3)}")
    // full parity: inline scan over base ∪ arrivals with the SAME
    // frozen centroids — batch boundaries must be invisible
    val want = Ivf.ivfTopK(base.unionByName(arrivals), query, "vec_id", "v",
        k = 10, Ivf.readCentroids(spark, idx), nprobe = 3)
      .select(col("nn_id"), round(col("sim"), 9).as("s"))
      .collect().map(_.toString).toSeq
    assert(got === want, s"live shelf diverged from inline: $got vs $want")

    // the fold fired: batches 0..1 live in ONE consol dir, the tail is
    // bounded, and the folded dirs are gone
    val bfs = new org.apache.hadoop.fs.Path(s"$idx/batches")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchNames = bfs.listStatus(
        new org.apache.hadoop.fs.Path(s"$idx/batches"))
      .map(_.getPath.getName).toSeq
    assert(batchNames.exists(_.startsWith("consol_id=")),
      s"no consolidated dir after 3 triggers at threshold 1: $batchNames")
    assert(batchNames.count(_.startsWith("batch_id=")) <= 2,
      s"folded batch dirs survived: $batchNames")

    // RETRY across the fold boundary: re-run the last batch —
    // batch-scoped overwrite, same rows, fold state untouched
    IvfIngestMaintenance.update(idx,
      arrivals.filter(col("vec_id") % 3 === 2), 2L,
      idCol = "vec_id", vecCol = "v", consolidateAfter = 1)
    assert(live() === got, "retried batch changed the served shelf")

    // DRIFT: the in-distribution batches must NOT flag; a batch from a
    // genuinely different distribution MUST. The shift is the
    // anti-centroid direction (−mean of the trained centroids): its dot
    // with EVERY centroid is negative, so no re-assignment can absorb
    // it — a plain negation would just argmax into a different cell and
    // read as in-distribution
    val cents = Ivf.readCentroids(spark, idx)
    val dim = cents.head.size
    val anti = Seq.tabulate(dim)(j => -cents.map(_(j)).sum / cents.size)
    IvfIngestMaintenance.update(idx,
      arrivals.filter(col("vec_id") % 3 === 0)
        .select((col("vec_id") + 5000000L).as("vec_id"),
          typedLit(anti).as("v")),
      99L, idCol = "vec_id", vecCol = "v")
    val drift = IvfIngestMaintenance.driftReport(spark, idx)
      .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("retrain_due")))
      .toMap
    assert(drift.keySet === Set(0L, 1L, 2L, 99L), s"drift rows: $drift")
    assert(!drift(0L) && !drift(1L) && !drift(2L),
      s"in-distribution batches flagged retrain: $drift")
    assert(drift(99L), s"shifted batch did not flag retrain: $drift")

    // RIGHT-TO-BE-FORGOTTEN on the live shelf: the planted arrival
    // came through a STREAMING batch dir and vec_id 3 (odd, % 3 == 0)
    // was FOLDED into the consolidated dir — the tenant forget must
    // reach both layouts (the base-only Ivf.forget reaches neither)
    val consolDir = batchNames.filter(_.startsWith("consol_id="))
      .map(n => s"$idx/batches/$n").head
    assert(spark.read.parquet(consolDir)
        .filter(col("nn_id") === 3L).count() === 1,
      "vec_id 3 should sit in the consolidated dir — fold layout drifted")
    IvfIngestMaintenance.forget(spark, idx, Seq(1000000000001L, 3L))
    val afterForget = live()
    assert(!afterForget.exists(_.startsWith("[1000000000001,")),
      s"forgotten streamed vector still served: ${afterForget.take(3)}")
    assert(spark.read.parquet(consolDir)
        .filter(col("nn_id") === 3L).count() === 0,
      "forget did not reach the consolidated dir")
    // the tenant-level composition fence (index ROOT) must refuse
    // topKLive loudly while a multi-dir forget is in flight
    val ffs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ffs.create(new org.apache.hadoop.fs.Path(idx,
      graft.operators.IndexForget.Marker), true).close()
    intercept[IllegalArgumentException](live())
    // re-running forget heals the fence
    IvfIngestMaintenance.forget(spark, idx, Seq(1000000000001L, 3L))
    assert(live() === afterForget, "healing re-run changed the shelf")
  }

  test("drift baseline rides the index's persisted EFFECTIVE training modulus: a fallback-trained index records mod 1, a stale explicit modulus is refused, and the default equals the explicit-correct baseline") {
    import graft.functions.Ivf
    import graft.streaming.IvfIngestMaintenance
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint()

    // normal build: the deterministic sample holds ≥ nlist vectors, so
    // the persisted effective modulus IS the requested one — and the
    // no-arg default must reproduce the explicit-correct baseline
    val a = tmpDir("baseline_meta_a") + "/idx"
    Ivf.writeIndex(e, "vec_id", "v", nlist = 8, a, iters = 1, sampleMod = 7)
    assert(Ivf.readTrainMeta(spark, a) === Some(7))
    IvfIngestMaintenance.writeBaseline(spark, a)
    def baseline(d: String): Seq[String] =
      spark.read.parquet(s"$d/drift_baseline")
        .collect().map(_.toString).toSeq
    val viaMeta = baseline(a)
    IvfIngestMaintenance.writeBaseline(spark, a, sampleMod = 7)
    assert(baseline(a) === viaMeta,
      "default-modulus baseline diverged from the explicit-correct one")

    // fallback build: a modulus above every id leaves the sample under
    // nlist, training silently falls back to the full corpus — the
    // metadata must record 1, and a caller passing the requested (now
    // meaningless) modulus must be refused, NOT given the biased
    // trained-on-rows baseline the holdout exists to avoid
    val b = tmpDir("baseline_meta_b") + "/idx"
    Ivf.writeIndex(e, "vec_id", "v", nlist = 8, b, iters = 1,
      sampleMod = 1000000000)
    assert(Ivf.readTrainMeta(spark, b) === Some(1),
      "full-corpus fallback was not recorded in the train metadata")
    intercept[IllegalArgumentException](
      IvfIngestMaintenance.writeBaseline(spark, b, sampleMod = 1000000000))
    IvfIngestMaintenance.writeBaseline(spark, b) // honest full-corpus baseline
    assert(spark.read.parquet(s"$b/drift_baseline").count() === 1)
  }

  test("IVF retrain/repoint: drift flags, rebuild lands at a staging root, ONE atomic rename repoints; a mid-swap crash is invisible to serving and healed; the new version serves every live row under its fresh quantizer") {
    import graft.functions.Ivf
    import graft.streaming.{IvfIngestMaintenance, VersionedState}

    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint()
    val query = e.filter(col("vec_id") === 0).localCheckpoint()
    val base = e.filter(col("vec_id") % 2 === 0 && col("vec_id") =!= 0)
      .localCheckpoint()
    val tenant = tmpDir("ivf_versioned")
    val v0 = IvfIngestMaintenance.initVersioned(spark, tenant, base,
      "vec_id", "v", nlist = 8, iters = 2, sampleMod = 7)
    assert(v0.endsWith("/v=0"))

    // streamed arrivals (direct update calls — the stream plumbing is
    // pinned by the ingest test; this one pins the swap), folded so the
    // retrain must read consol AND tail layouts
    val arrivals = e.filter(col("vec_id") % 2 =!= 0).localCheckpoint()
    (0 until 3).foreach { i =>
      IvfIngestMaintenance.update(v0,
        arrivals.filter(col("vec_id") % 3 === i), i.toLong,
        idCol = "vec_id", vecCol = "v", consolidateAfter = 1)
    }
    assert(new org.apache.hadoop.fs.Path(s"$v0/batches")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(new org.apache.hadoop.fs.Path(s"$v0/batches"))
        .exists(_.getPath.getName.startsWith("consol_id=")),
      "no fold fired — the retrain below would not cover the consol layout")

    def serve(): Seq[String] = {
      // version resolution is ONE listing; the query then reads only
      // under the resolved root — old or new consistently, never a mix
      val d = IvfIngestMaintenance.currentIndexDir(spark, tenant)
      IvfIngestMaintenance.topKLive(spark, d, query, "v", k = 10,
          nprobe = 3)
        .select(col("nn_id"), round(col("sim"), 9).as("s"))
        .collect().map(_.toString).toSeq
    }

    // a genuinely shifted batch flags retrain (the anti-centroid recipe)
    val cents0 = Ivf.readCentroids(spark, v0)
    val dim = cents0.head.size
    val anti = Seq.tabulate(dim)(j => -cents0.map(_(j)).sum / cents0.size)
    val antiRows = spark.range(5)
      .select((col("id") + 7000000L).as("vec_id"), typedLit(anti).as("v"))
      .localCheckpoint()
    IvfIngestMaintenance.update(v0, antiRows, 99L,
      idCol = "vec_id", vecCol = "v")
    assert(IvfIngestMaintenance.driftReport(spark, v0)
        .filter(col("retrain_due")).count() >= 1,
      "shifted batch did not flag — the retrain below would be unmotivated")
    val preSwap = serve()

    // MID-SWAP CRASH: a half-built staging dir must be INVISIBLE to a
    // live reader (the committed v= listing never changed)
    val fs = new org.apache.hadoop.fs.Path(tenant)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(
      VersionedState.stagingPath(tenant, 1L))
    fs.mkdirs(new org.apache.hadoop.fs.Path(staging, "cells"))
    assert(serve() === preSwap,
      "a torn staging dir changed the served answers")

    // retrain: heals the crashed staging wholesale, rebuilds from the
    // live rows (base ∪ consol ∪ tail ∪ the shifted batch), repoints
    val v1 = IvfIngestMaintenance.retrain(spark, tenant, nlist = 8,
      iters = 2, sampleMod = 7)
    assert(v1.endsWith("/v=1"))
    assert(!fs.exists(staging), "staging survived its own commit")
    assert(IvfIngestMaintenance.currentIndexDir(spark, tenant) === v1)

    // the new version REALLY retrained (fresh quantizer over the
    // shifted corpus)…
    val cents1 = Ivf.readCentroids(spark, v1)
    assert(cents1 !== cents0, "retrain kept the stale centroids")
    // …and serves EVERY live row: parity with an inline scan of the
    // full live corpus under the new centroids (the fresh-build
    // equivalence — a fresh build IS assignment + pruned scan under
    // freshly trained centroids; training itself is pinned
    // deterministic by IndexSpec)
    val liveCorpus = base.unionByName(arrivals).unionByName(antiRows)
    val want = Ivf.ivfTopK(liveCorpus, query, "vec_id", "v", k = 10,
        cents1, nprobe = 3)
      .select(col("nn_id"), round(col("sim"), 9).as("s"))
      .collect().map(_.toString).toSeq
    assert(serve() === want,
      "repointed version diverged from the live corpus under its own quantizer")
    // the new version starts with an empty batch tail (streamed rows
    // re-entered as base rows) and its own held-out baseline
    assert(spark.read.parquet(s"$v1/cells").count() === liveCorpus.count())
    assert(spark.read.parquet(s"$v1/drift_baseline").count() === 1)
    // old version lingers for in-flight readers (retention), so a
    // reader that resolved v=0 before the rename finishes cleanly
    assert(fs.exists(new org.apache.hadoop.fs.Path(v0)),
      "old version retired immediately — in-flight readers would crash")
    // the operator's first post-retrain act: confirm the alarm cleared.
    // A fresh version has NO drift history yet — that must read as
    // fit-quiet (no arrivals to flag), never throw
    val mAfter = IvfIngestMaintenance.maintenanceReport(spark, v1).first()
    assert(!mAfter.getAs[Boolean]("fit_due") &&
        !mAfter.getAs[Boolean]("retrain_due"),
      s"freshly retrained version still flags: $mAfter")
  }

  test("IVF tenant lifecycle end-to-end: ingest -> flags -> quiesce -> retrain -> ingest RESUMES on v+1 (lands under the new batches root) -> fold -> monitor quiet -> forget a v+1 streamed row -> torn-forget refusal heals") {
    import graft.functions.Ivf
    import graft.streaming.IvfIngestMaintenance
    import spark.implicits._

    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint()
    val base = e.filter(col("vec_id") % 2 === 0 && col("vec_id") =!= 0)
      .localCheckpoint()
    val tenant = tmpDir("ivf_lifecycle")
    val v0 = IvfIngestMaintenance.initVersioned(spark, tenant, base,
      "vec_id", "v", nlist = 8, iters = 2, sampleMod = 7)
    // planted probe: near-copy of a base row — ground truth by
    // construction, carried across the retrain below
    val gt = base.orderBy("vec_id").limit(1).collect().head
    val qv = gt.getSeq[Double](1).toSeq
      .updated(0, gt.getSeq[Double](1).head + 0.01)
    IvfIngestMaintenance.writeProbeSet(spark, v0,
      Seq((1L, qv, gt.getLong(0))).toDF("probe_id", "qv", "expect_id"))

    // ingest on v0 through the PRODUCTION resolution shape (every
    // trigger re-resolves the current version), folding en route
    val arrivals = e.filter(col("vec_id") % 2 =!= 0).localCheckpoint()
    (0 until 3).foreach { i =>
      IvfIngestMaintenance.update(
        IvfIngestMaintenance.currentIndexDir(spark, tenant),
        arrivals.filter(col("vec_id") % 3 === i), i.toLong,
        idCol = "vec_id", vecCol = "v", consolidateAfter = 1)
    }
    // a shifted batch flags retrain_due through the full report (the
    // recall leg rides along healthy — the plant is still served)
    val cents0 = Ivf.readCentroids(spark, v0)
    val dim = cents0.head.size
    val anti = Seq.tabulate(dim)(j => -cents0.map(_(j)).sum / cents0.size)
    IvfIngestMaintenance.update(
      IvfIngestMaintenance.currentIndexDir(spark, tenant),
      spark.range(5).select((col("id") + 7000000L).as("vec_id"),
        typedLit(anti).as("v")),
      3L, idCol = "vec_id", vecCol = "v", consolidateAfter = 1)
    val mFlag = IvfIngestMaintenance
      .maintenanceReport(spark, v0, nprobe = 3).first()
    assert(mFlag.getAs[Boolean]("fit_due") &&
        mFlag.getAs[Boolean]("retrain_due"),
      s"shifted batch did not flag: $mFlag")
    assert(mFlag.getAs[Double]("recall") === 1.0,
      s"plant lost before the retrain — the carry-over check is vacuous: $mFlag")

    // QUIESCE (no further updates) -> retrain -> repoint
    val v1 = IvfIngestMaintenance.retrain(spark, tenant, nlist = 8,
      iters = 2, sampleMod = 7)
    assert(IvfIngestMaintenance.currentIndexDir(spark, tenant) === v1)

    // INGEST RESUMES on v+1 — the seam no other case crosses: the next
    // trigger re-resolves the current version and its batch dir must
    // land under the NEW version's batches root, not the old one's
    val resumed = e.filter(col("vec_id") % 2 =!= 0)
      .select((col("vec_id") + 6000000L).as("vec_id"), col("v"))
      .localCheckpoint()
    (4 until 6).foreach { i =>
      IvfIngestMaintenance.update(
        IvfIngestMaintenance.currentIndexDir(spark, tenant),
        resumed.filter(col("vec_id") % 2 === (i % 2)), i.toLong,
        idCol = "vec_id", vecCol = "v", consolidateAfter = 1)
    }
    val fs = new org.apache.hadoop.fs.Path(tenant)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$v1/batches"))
        .exists(s => s.getPath.getName.startsWith("batch_id=") ||
          s.getPath.getName.startsWith("consol_id=")),
      "post-retrain ingest left no dirs under the new version's batches root")
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(s"$v0/batches"))
        .exists(_.getPath.getName.stripPrefix("batch_id=")
          .toLongOption.exists(_ >= 4L)),
      "a post-retrain batch landed under the OLD version's batches root")
    // the resumed rows SERVE on the new version …
    val probeQ = Seq(Tuple1(resumed.orderBy("vec_id").limit(1)
      .collect().head.getSeq[Double](1).toSeq)).toDF("qv")
    val served = IvfIngestMaintenance.topKLive(spark, v1, probeQ, "qv",
      k = 5, nprobe = 3).select("nn_id").as[Long].collect()
    assert(served.exists(_ >= 6000000L),
      s"resumed arrivals not served on v1: ${served.toSeq}")
    // … and the monitor is QUIET: in-distribution arrivals against the
    // fresh baseline, the carried probe set still hitting
    val mQuiet = IvfIngestMaintenance
      .maintenanceReport(spark, v1, nprobe = 3).first()
    assert(!mQuiet.getAs[Boolean]("retrain_due") &&
        mQuiet.getAs[Double]("recall") === 1.0,
      s"post-retrain monitor not quiet: $mQuiet")

    // FORGET a row streamed on v+1: absent from serving afterwards
    val victim = served.filter(_ >= 6000000L).head
    IvfIngestMaintenance.forget(spark, v1, Seq(victim))
    val after = IvfIngestMaintenance.topKLive(spark, v1, probeQ, "qv",
      k = 5, nprobe = 3).select("nn_id").as[Long].collect()
    assert(!after.contains(victim), s"victim $victim still served")

    // TORN-FORGET refusal + heal: a fence left at the version root
    // refuses the monitor AND serving loudly; re-running forget with
    // the same ids is the documented heal
    graft.operators.IndexForget.fence(spark, v1)
    intercept[IllegalArgumentException](
      IvfIngestMaintenance.maintenanceReport(spark, v1, nprobe = 3))
    intercept[IllegalArgumentException](
      IvfIngestMaintenance.topKLive(spark, v1, probeQ, "qv", 5, 3))
    IvfIngestMaintenance.forget(spark, v1, Seq(victim))
    assert(IvfIngestMaintenance
        .maintenanceReport(spark, v1, nprobe = 3).first()
        .getAs[Double]("recall") === 1.0,
      "healed tenant did not serve the monitor again")
  }

  test("maintenance report: planted-probe recall catches hot-cell crowding that assignment fit cannot — fit holds, recall collapses, retrain_due still fires") {
    import graft.functions.{Ivf, VectorOps}
    import graft.streaming.IvfIngestMaintenance
    import spark.implicits._

    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint()
    val idx = tmpDir("ivf_recall") + "/index"
    Ivf.writeIndex(e, "vec_id", "v", nlist = 8, idx, iters = 2,
      sampleMod = 7)
    IvfIngestMaintenance.writeBaseline(spark, idx)

    // plant: probe 1 is a near-copy of the corpus vector with the
    // HIGHEST assignment fit (so the crowding batch below — copies of
    // the probe — inherits a fit comfortably above the baseline, and
    // the fit leg provably stays quiet); probe 2 near-copies the
    // second-best row (it rides along untouched by the crowding, and
    // gives the forget lifecycle below a SURVIVOR for the swap branch)
    val cents = Ivf.readCentroids(spark, idx)
    val cdf = broadcast(cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "cvec"))
    val best2 = spark.read.parquet(s"$idx/cells").join(cdf, "cell")
      .select(col("nn_id"), col("cv"),
        VectorOps.dot(Ivf.unit(col("cv")), col("cvec")).as("fit"))
      .orderBy(col("fit").desc).limit(2).collect()
    val expectId = best2(0).getLong(0)
    val expectId2 = best2(1).getLong(0)
    def nudge(r: org.apache.spark.sql.Row): Seq[Double] =
      r.getSeq[Double](1).toSeq.updated(0, r.getSeq[Double](1).head + 0.01)
    val qv = nudge(best2(0))
    val qv2 = nudge(best2(1))
    IvfIngestMaintenance.writeProbeSet(spark, idx,
      Seq((1L, qv, expectId), (2L, qv2, expectId2))
        .toDF("probe_id", "qv", "expect_id"))

    // an in-distribution batch first: both legs healthy
    IvfIngestMaintenance.update(idx,
      e.filter(col("vec_id") % 97 === 3)
        .select((col("vec_id") + 5000000L).as("vec_id"), col("v")),
      0L, idCol = "vec_id", vecCol = "v", consolidateAfter = 0)
    val m0 = IvfIngestMaintenance.maintenanceReport(spark, idx).first()
    assert(m0.getAs[Double]("recall") === 1.0,
      s"planted probe not retrieved on a healthy shelf: $m0")
    assert(!m0.getAs[Boolean]("retrain_due"), s"healthy shelf flagged: $m0")

    // HOT-CELL CROWDING: a batch of near-copies of the probe itself —
    // each fits its own centroid exactly as well as the best corpus
    // member (fit leg quiet), but all k slots of the probe's answer
    // fill with them, crowding the known ground truth out of top-k
    IvfIngestMaintenance.update(idx,
      spark.range(12).select((col("id") + 8000000L).as("vec_id"),
        typedLit(qv).as("v")),
      1L, idCol = "vec_id", vecCol = "v", consolidateAfter = 0)
    val m1 = IvfIngestMaintenance.maintenanceReport(spark, idx).first()
    assert(!m1.getAs[Boolean]("fit_due"),
      s"fit flagged — the crowding batch was supposed to be in-distribution: $m1")
    assert(m1.getAs[Double]("recall") === 0.5,
      s"crowding did not displace exactly probe 1's planted answer: $m1")
    assert(m1.getAs[Boolean]("recall_due") && m1.getAs[Boolean]("retrain_due"),
      s"recall collapse did not raise retrain_due: $m1")

    // PROBE-VOIDING lifecycle on forget:
    // (a) deleting an ordinary vector leaves the probe set's exact
    //     files untouched — no rewrite, no crash window paid for a
    //     no-op;
    val pfs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def probeFiles(): Set[String] = pfs
      .listStatus(new org.apache.hadoop.fs.Path(s"$idx/probe_set"))
      .map(_.getPath.getName).toSet
    val filesBefore = probeFiles()
    IvfIngestMaintenance.forget(spark, idx, Seq(8000000L)) // one crowd row
    assert(probeFiles() === filesBefore,
      "a forget with no probe victims rewrote the probe set")
    // (b) forgetting probe 1's GROUND-TRUTH row voids that probe
    //     through the flat swap (probe 2 survives) — the alarm clears
    //     instead of hard-wiring a permanent miss;
    IvfIngestMaintenance.forget(spark, idx, Seq(expectId))
    val probesLeft = spark.read.parquet(s"$idx/probe_set")
      .select("probe_id").collect().map(_.getLong(0)).toSeq
    assert(probesLeft === Seq(2L),
      s"voiding did not keep exactly the survivor probe: $probesLeft")
    val m2 = IvfIngestMaintenance.maintenanceReport(spark, idx).first()
    assert(m2.getAs[Double]("recall") === 1.0 &&
        !m2.getAs[Boolean]("retrain_due"),
      s"surviving probe should hit and clear the alarm: $m2")
    // (b2) TORN-SWAP heal: a crash that retired the set to trash (dir
    //      missing, marker up) wedges the monitor LOUDLY; re-running
    //      forget with the same ids — the documented heal — restores,
    //      re-filters and clears, instead of a guard skipping past the
    //      only repair path
    val probeP = new org.apache.hadoop.fs.Path(s"$idx/probe_set")
    val trashP = new org.apache.hadoop.fs.Path(s"$idx/probe_set.forget_trash")
    val markerP = new org.apache.hadoop.fs.Path(
      s"$idx/probe_set._FORGET_INPROGRESS")
    assert(pfs.rename(probeP, trashP))
    pfs.create(markerP, true).close()
    intercept[IllegalArgumentException](
      IvfIngestMaintenance.maintenanceReport(spark, idx))
    IvfIngestMaintenance.forget(spark, idx, Seq(expectId)) // same-ids re-run
    assert(pfs.exists(probeP) && !pfs.exists(trashP) && !pfs.exists(markerP),
      "heal did not restore the probe set and clear the swap debris")
    assert(IvfIngestMaintenance.maintenanceReport(spark, idx)
        .first().getAs[Double]("recall") === 1.0,
      "healed probe set lost the survivor probe")
    // (c) forgetting the last ground-truth row retires the set —
    //     the recall leg reports null, never a phantom verdict
    IvfIngestMaintenance.forget(spark, idx, Seq(expectId2))
    assert(!pfs.exists(probeP), "an all-voided probe set did not retire")
    val m3 = IvfIngestMaintenance.maintenanceReport(spark, idx).first()
    assert(m3.isNullAt(m3.fieldIndex("recall")) &&
        !m3.getAs[Boolean]("recall_due") && !m3.getAs[Boolean]("retrain_due"),
      s"retired probe set did not null the recall leg: $m3")
    // (c2) a torn RETIRE's fileless remainder re-retires instead of
    //      crashing schema inference on a footer-less dir
    pfs.mkdirs(probeP)
    IvfIngestMaintenance.forget(spark, idx, Seq(expectId2))
    assert(!pfs.exists(probeP),
      "a fileless retire remainder was not re-retired")
  }

  test("batched recall monitor: recallReport over N probes equals the per-probe topKLive loop and issues O(1) Spark jobs, not O(probes)") {
    import graft.functions.Ivf
    import graft.streaming.IvfIngestMaintenance
    import spark.implicits._

    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint()
    val idx = tmpDir("ivf_recall_batch") + "/index"
    Ivf.writeIndex(e, "vec_id", "v", nlist = 8, idx, iters = 2, sampleMod = 7)
    // a streamed batch too — the parity must hold over the LIVE union
    // (base cells + committed batch dirs), not the base alone
    IvfIngestMaintenance.update(idx,
      e.filter(col("vec_id") % 11 === 0)
        .select((col("vec_id") + 5000000L).as("vec_id"), col("v")),
      0L, idCol = "vec_id", vecCol = "v", consolidateAfter = 0)

    // 10 probes: 8 planted near-copies (must hit) + 2 with ground truth
    // deliberately set to a FAR row (likely misses — parity must cover
    // false hits too, and a miss-only probe exercises the left join)
    val rows = e.filter(col("vec_id") < 8).collect()
      .sortBy(_.getLong(0)).toSeq
    val planted = rows.map { r =>
      val v = r.getSeq[Double](1).toSeq
      (r.getLong(0), v.updated(0, v.head + 0.01), r.getLong(0))
    }
    val far = e.filter(col("vec_id") >= 8 && col("vec_id") < 10).collect()
      .sortBy(_.getLong(0)).toSeq.zipWithIndex.map { case (r, i) =>
      (100L + i, r.getSeq[Double](1).toSeq.updated(0, 9.9), 499L)
    }
    val probes = planted ++ far
    IvfIngestMaintenance.writeProbeSet(spark, idx,
      probes.toDF("probe_id", "qv", "expect_id"))

    // ground truth: the per-probe single-query loop (the pre-batching
    // shape), k/nprobe matched
    val want = probes.map { case (pid, qv, expect) =>
      val top = IvfIngestMaintenance.topKLive(spark, idx,
          Seq(Tuple1(qv)).toDF("qv"), "qv", k = 10, nprobe = 4)
        .select("nn_id").as[Long].collect()
      (pid, expect, top.contains(expect))
    }.toSet

    // O(1)-jobs pin: the job count must not grow with the probe count
    // (the old per-probe loop paid ≥ 3 jobs PER probe). Measured as a
    // DELTA — 2 probes vs the full 10 — so harness constants (listing,
    // checkpoint, centroid reads) cancel instead of being guessed.
    def jobsOf(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
      }
      spark.sparkContext.addSparkListener(listener)
      // the listener bus is async and exposes no public drain — poll
      // until the count is stable across two consecutive windows, so a
      // loaded box cannot undercount one run and skew the delta
      try {
        body
        var prev = -1
        var stable = 0
        var waited = 0
        // minimum total wait ≥ 1.5 s AND a nonzero count before
        // stability can be declared: a delayed burst delivery (GC
        // pause, CI load) must not let two quiet 250 ms windows
        // undercount one run and skew the between-runs delta
        while ((stable < 2 || waited < 1500 || jobs.get() == 0) &&
            waited < 10000) {
          Thread.sleep(250); waited += 250
          val cur = jobs.get()
          if (cur == prev) stable += 1 else { stable = 0; prev = cur }
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      jobs.get()
    }
    IvfIngestMaintenance.writeProbeSet(spark, idx,
      probes.take(2).toDF("probe_id", "qv", "expect_id"))
    val jSmall = jobsOf(
      IvfIngestMaintenance.recallReport(spark, idx, k = 10, nprobe = 4)
        .collect(): Unit)
    IvfIngestMaintenance.writeProbeSet(spark, idx,
      probes.toDF("probe_id", "qv", "expect_id"))
    var got = Set.empty[(Long, Long, Boolean)]
    val jFull = jobsOf {
      got = IvfIngestMaintenance.recallReport(spark, idx, k = 10, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
    }
    assert(got === want,
      s"batched recall diverged from the per-probe loop: " +
        s"missing=${want -- got} extra=${got -- want}")
    assert(want.count(_._3) >= 8 && want.exists(!_._3),
      s"fixture must exercise hits AND misses: $want")
    assert(jFull <= jSmall + 2,
      s"recallReport jobs grew with the probe count ($jSmall jobs @ 2 " +
        s"probes vs $jFull @ ${probes.size}) — the batched path must be " +
        "O(1) in the probe count")
  }
}
