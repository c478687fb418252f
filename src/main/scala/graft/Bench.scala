package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every registered query at SPARK_GRAFT_SF_DIR,
  * one JSON line on stdout.
  *
  * Measurement discipline (round-1 findings): the action is a noop-format
  * write — a `.count()` action lets Catalyst delete final sorts and prune
  * projected columns, so TakeOrderedAndProject / decimal math went partly
  * unmeasured. One full warmup pass at sf0.001 first absorbs JVM/codegen
  * JIT so the first timed query isn't 5 s of warmup.
  *
  * Output-size discipline: the metric line carries EVERY query at
  * 3-decimal precision, slowest first (r19 — the r18 top-40 truncation
  * left the driver's PERF comparator with no common per-query map;
  * see VERDICT r18 #1). Failures are excluded from the total (a -1
  * sentinel must not *improve* the headline number) and reported in an
  * explicit `errors` list instead; the sidecar additionally carries
  * both raw iterations per query. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    /** Per-query isolation, round-10 form. Round 7 added a per-query
      * cleanse (clearCache + async unpersist) after one hot JVM running
      * the whole board contaminated late queries; round 9 showed the
      * cleanse does NOT reach the checkpoint-heavy family — q122_pagerank
      * recorded 19.8 s in-bench vs 5.1 s in a fresh JVM, q48b 5.3 vs 2.8.
      * The leak class: state tied to the long-lived SparkContext that a
      * catalog-level cleanse cannot touch — localCheckpoint RDD blocks
      * freed only asynchronously (unpersist(false)), accumulated broadcast
      * blocks (destroyed only by the weak-reference ContextCleaner, i.e.
      * only after a GC that never ran mid-phase), and block-manager/heap
      * growth across ~120 queries. Fix: (a) the per-query cleanse now
      * BLOCKS until blocks are actually dropped, and (b) the board runs in
      * chunks of [[chunkSize]] queries, each chunk in a FRESH
      * SparkSession — stopping the context drops the entire BlockManager
      * (cached relations, checkpoint blocks, broadcasts) wholesale, and an
      * explicit GC between chunks returns the heap to a low-water mark. No
      * query ever has more than chunkSize-1 predecessors' residue, instead
      * of the whole board's. Session startup (~1-2 s) is untimed harness
      * overhead; codegen JIT survives sessions (it is JVM-wide), so the
      * sf0.001 warmup pass keeps its value.
      *
      * Measured (round 10, full 213-query board at sf0.1): q122_pagerank
      * 7.0 s and q48b_ivf_topk 1.9 s under the chunked harness vs 19.8 s /
      * 5.3 s recorded by the round-9 monolithic session — within the
      * fresh-JVM envelope (5.1 s / 2.8 s BenchOne minimums on a quieter
      * box), confirming the residue was session-scoped BlockManager state
      * (checkpoint blocks + broadcasts), not the queries. Streaming
      * replays recovered in the same run (349 rec/s fixture / 26.4k at
      * 100k lines vs round 9's 170 / 19.8k).
      *
      * chunkSize dropped 16 → 8 late round 10, then MEASURED as neutral:
      * q122 reads 8.17 s under chunk-8 vs 8.14 s under chunk-16 on the
      * 242-query board — so the residual gap to BenchOne's hot minimum
      * (3.7-5.1 s) is NOT predecessor residue. BenchOne's own iterations
      * explain it: its first (cold) iteration costs 8.9 s and only hot
      * reruns in the same session reach 3.7 s — the delta is cold-start
      * I/O (file listing, parquet footers, shuffle/codegen setup) that
      * any run-once query pays, and the in-bench number ≈ the cold cost.
      * The round-9 pathology (19.8 s, monotonic with board position) is
      * gone; what remains is the honest price of a cold query. Chunk-8
      * kept: worst-case residue is halved for free (restarts are
      * untimed). */
    val chunkSize = 8
    def cleanse(spark: SparkSession): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    /** Seconds, or -1.0 on failure. NonFatal only: an OOM or interrupt
      * must kill the bench loudly, not masquerade as one failed query.
      * The post-run cleanse is deliberately OUTSIDE the timed window —
      * it is harness hygiene, not query work. */
    def exec(spark: SparkSession, name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save(); true }
        catch { case scala.util.control.NonFatal(_) => false }
      val dt = (System.nanoTime() - t0) / 1e9
      cleanse(spark)
      if (ok) dt else -1.0
    }

    /** Untimed per-session warmup (round 11): every fresh session
      * otherwise bills its first timed query for session-scoped
      * cold-start — noop-writer registration, whole-stage-codegen
      * setup, shuffle bring-up, and the FileStatusCache misses on the
      * bench dir (listing + parquet footers). Two legs, both
      * TABLE-NEUTRAL so no timed query is flattered relative to the
      * others: (a) a synthetic range → shuffled agg → noop write warms
      * codegen/exchange/writer without touching any table; (b) a
      * schema touch of EVERY bench-dir table warms the session
      * FileStatusCache and footer reads uniformly (driver-side listing
      * only — no table data is read). Failures are ignored — warmup
      * must never kill the bench. */
    def warm(spark: SparkSession, dir: String): Unit = {
      import org.apache.spark.sql.functions.{col, count, lit, pmod}
      try spark.range(1000)
        .groupBy(pmod(col("id"), lit(10)).as("g"))
        .agg(count(lit(1)).as("c"))
        .write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(_) => () }
      // per-table try: one failing loader must not skip the tables after
      // it (that would re-introduce the per-table cold-start bias this
      // warmup exists to remove). Tables.names is the single catalog —
      // a table added there is warmed automatically.
      Tables.names.foreach { n =>
        try Tables.loader(n)(spark, dir).schema: Unit
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }

    /** One timed pass over `names` at `dir`, chunked into fresh sessions. */
    def runPass(names: Seq[String], dir: String): Map[String, Double] =
      names.grouped(chunkSize).flatMap { chunk =>
        val spark = GraftSession.start()
        warm(spark, dir)
        val res = chunk.map(n => n -> exec(spark, n, dir))
        spark.stop()
        System.gc()
        res
      }.toMap

    // Dev smoke subset: SPARK_GRAFT_QUERIES="q90_dedup_pipeline,..." runs
    // only the named queries (and skips the streaming legs) — used by the
    // 100× scale smoke, never by the driver (env unset → full set).
    // SPARK_GRAFT_STREAM_ONLY=1 inverts it: skip the query board and run
    // just the streaming replays — isolates replay throughput from
    // whatever heap/page-cache state the prior queries leave behind.
    val streamOnly = sys.env.get("SPARK_GRAFT_STREAM_ONLY").contains("1")
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names =
      if (streamOnly) Seq.empty[String]
      else subset match {
        case Some(want) => SparkEntry.queries.keys.toSeq.filter(want).sorted
        case None       => SparkEntry.queries.keys.toSeq.sorted
      }
    // BOX-DRIFT CALIBRATION PROBE (round 13): a fixed synthetic
    // workload whose code never changes round to round — a shuffled
    // aggregation + top-k over range(5e7), no files, its own fresh
    // session, min of 3 timed runs after one untimed warm run. Cross-
    // round BENCH comparisons read this first: a uniform query-time
    // shift WITH a matching probe shift is box drift (rounds 11→12 each
    // burned a manual old-binary rebuild to prove exactly that for a
    // uniform 1.1-1.4× overlap); a query moving against a flat probe is
    // real. Runs before the timed board so it reads the same box state
    // the queries get; subset (dev-smoke) runs keep it — their numbers
    // swing ±30% on this box and the probe is the context. cpus-
    // dependent, so compare only probes taken at the same SPARK_GRAFT_
    // CPUS (the driver always runs 32).
    def calibrationProbe(): Double =
      if (streamOnly) -1.0
      else {
        import org.apache.spark.sql.functions._
        val s = GraftSession.start()
        try {
          val times = (0 to 3).map { _ =>
            val t0 = System.nanoTime()
            s.range(50000000L)
              .select(pmod(col("id") * 2654435761L, lit(1048576)).as("g"),
                col("id"))
              .groupBy("g").agg(sum(col("id")).as("s"),
                count(lit(1)).as("c"))
              .orderBy(col("s").desc).limit(100)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          times.tail.min // first run is the untimed-in-spirit warm pass
        } catch { case scala.util.control.NonFatal(_) => -1.0 }
        finally { s.stop(); System.gc() }
      }

    runPass(names, "/root/testdata/sf0.001") // warmup: JIT + codegen
    val probeSec = calibrationProbe()

    // min of two timed iterations — single-run numbers on a shared 32-way
    // box swing 2-4x per query from scheduler noise.
    val r1 = runPass(names, sfDir)
    val r2 = runPass(names, sfDir)
    val results = names.map { n =>
      val (a, b) = (r1(n), r2(n))
      n -> (if (a < 0 || b < 0) math.max(a, b) else math.min(a, b))
    }
    val (failed, ok) = results.partition(_._2 < 0)
    val total = ok.map(_._2).sum
    // r19 (VERDICT #1): the metric line carries EVERY query, slowest
    // first — the r18 form truncated to the 40 slowest, which made the
    // driver's cross-round per-query comparator blind (PERF_r18.json
    // read an empty per_query map and prev/now_bench_ok false): a query
    // that got FASTER fell out of the map and the 40-entry intersection
    // could not anchor a 257-query diff. The full map is ~8 KB — field
    // names/order and the sidecar are unchanged, additions-only.
    val headline = ok.sortBy(-_._2)
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = headline.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val errs = failed.map("\"" + _._1 + "\"").mkString("[", ",", "]")

    // Streaming replay throughput (reference comparison point: offered
    // load 0.33 rec/s with 5-10 min visibility, reference README.md:451).
    // Lines through parse→dedup→dual-sink under AvailableNow; -1 on
    // failure OR timeout (an expired awaitTermination leaves the query
    // running and the elapsed denominator covering a partial run — that
    // must read as failure, not as a slow-but-plausible number). The line
    // count is taken from the replay file itself, never hardcoded.
    def replayThroughput(streamSpark: SparkSession, lines: Seq[String],
                         tag: String): Double = {
      import java.nio.file.Files
      import scala.jdk.CollectionConverters._
      var dirs = Seq.empty[java.io.File]
      try {
        val src = Files.createTempDirectory(s"bench_cdc_src_$tag")
        val out = Files.createTempDirectory(s"bench_cdc_out_$tag").toString
        dirs = Seq(src.toFile, new java.io.File(out))
        Files.write(src.resolve("cdc.jsonl"), lines.asJava)
        val sinks = graft.streaming.CdcStreamPipeline.Sinks(
          s"$out/serving", s"$out/archive", s"$out/error", s"$out/checkpoint")
        val t0 = System.nanoTime()
        val (main, dlq) = graft.streaming.CdcStreamPipeline.start(
          streamSpark.readStream.text(src.toString), sinks,
          org.apache.spark.sql.streaming.Trigger.AvailableNow())
        val done = main.awaitTermination(300000) & dlq.awaitTermination(300000)
        if (!done) { main.stop(); dlq.stop(); -1.0 }
        else lines.size / ((System.nanoTime() - t0) / 1e9)
      } catch { case scala.util.control.NonFatal(_) => -1.0 }
      // drop the replay's source/sink dirs — a 12-replay streaming phase
      // otherwise accumulates ~12 archive+serving trees on /tmp for the
      // rest of the process (the queries phase's scratch is per-query)
      finally dirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    }

    val fixtureLines = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(Tables.cdcFixturePath)).asScala.toSeq
    }
    // the 613-line fixture measures per-trigger overhead; a ~100k-line
    // replay (163 fixture copies, each re-keyed to distinct transaction
    // ids AND distinct primary keys: dedup state carries ~100k tx ids,
    // the serving last-write-wins merge ~41k pks — 163 × the fixture's
    // 250 distinct trans_ids) measures steady-state throughput at a
    // realistic batch size
    val txRe = """"transaction-id": (\d+)""".r
    val pkRe = """"trans_id": (\d+)""".r
    val largeLines = (0 until 163).flatMap { i =>
      if (i == 0) fixtureLines
      else fixtureLines.map { l =>
        val t = txRe.replaceAllIn(l,
          m => s""""transaction-id": ${m.group(1).toLong + i * 1000000L}""")
        pkRe.replaceAllIn(t,
          m => s""""trans_id": ${m.group(1).toLong + i * 1000000L}""")
      }
    }
    // Each timed replay runs in its own fresh session after one untimed
    // fixture replay in that session: the streaming path's codegen and
    // state-store init otherwise land in whichever timed figure runs
    // first (measured 6× swing on the 613-line replay across bench
    // invocations), and a shared session accumulates every replay's
    // state-store providers, which nothing unloads. Best of THREE timed
    // replays per size: one sample cannot tell shared-box noise from a
    // regression. JVM-wide JIT survives from the phase's start.
    def replays(n: Int, lines: Seq[String], tag: String)
        : (Double, Seq[Double]) =
      if (subset.isDefined) (-1.0, Seq.empty)
      else {
        val runs = (1 to n).map { i =>
          val ss = GraftSession.start()
          try {
            replayThroughput(ss, fixtureLines, s"${tag}warm$i")
            replayThroughput(ss, lines, tag + i)
          } finally { ss.stop(); System.gc() }
        }
        (runs.max, runs)
      }
    val (streamRecPerSec, smallRuns) = replays(3, fixtureLines, "small")
    val (streamLargeRecPerSec, largeRuns) = replays(3, largeLines, "large")
    // the probe AGAIN at the end of the run: the start probe is the
    // cross-round normalizer (its workload never changes), but it is
    // one sample of one dimension (pure-CPU shuffle) — the r17 close
    // saw it read 1.87 s and 2.71 s across two same-box runs whose
    // query boards moved the OPPOSITE way 285→260 s. Two samples
    // bracketing the board make within-run probe drift readable from
    // the artifact itself: start≈end but both off the prior round →
    // the box really shifted; start≠end → the probe scattered and its
    // normalization should be discounted for that artifact.
    val probeEndSec = calibrationProbe()

    val line = s"""{"metric":"total","value":${f(total)},"unit":"sec","n_queries":${ok.size},"calibration_probe_sec":${f(probeSec)},"calibration_probe_end_sec":${f(probeEndSec)},"streaming_rec_per_sec":${f(streamRecPerSec)},"streaming_rec_per_sec_100k":${f(streamLargeRecPerSec)},"errors":$errs,"queries":$qs,"sf":"$sfDir"}"""
    // Sidecar first, then the metric line as the ABSOLUTE last stdout
    // output (after spark.stop()): round 7's artifact recorded `parsed:
    // null` because the driver's structured extraction missed the line
    // inside a 2000-char log tail. The stdout line carries every query
    // (r19); the sidecar additionally carries both raw iterations plus
    // the min per query, and every timed iteration of each streaming
    // replay leg.
    val allQ = names.sorted.map { n =>
      "\"" + n + s"""":{"r1":${f(r1(n))},"r2":${f(r2(n))},"min":${f(results.toMap.apply(n))}}"""
    }.mkString("{", ",", "}")
    val streamRunsJson =
      s"""{"small":${smallRuns.map(f).mkString("[", ",", "]")},"large":${largeRuns.map(f).mkString("[", ",", "]")}}"""
    // chunk_size makes the chunk boundaries reconstructible from the
    // sorted queries_full keys (grouped(chunk_size) in sorted order) —
    // cross-round diffs can then tell "chunk composition shifted" from
    // "query regressed" without guessing the harness layout
    val sidecar = line.dropRight(1) +
      s""","chunk_size":$chunkSize,"streaming_runs":$streamRunsJson,"queries_full":$allQ}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LAST_LOCAL.json"), sidecar + "\n")
    catch { case scala.util.control.NonFatal(_) => () }
    // every session (query chunks and per-replay streaming) is already
    // stopped by its own scope
    println(line)
  }
}
