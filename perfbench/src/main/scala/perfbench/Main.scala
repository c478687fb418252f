package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.cdc.Envelope
import graft.streaming.CdcStreamPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's measuring JVM: it runs every leg of a workload against
  * the program's public API and writes the raw measurements to one JSON
  * file; `run.py` derives the metrics and checks the outputs.
  *
  * Legs, in order: `setup_reps` set-ups (fresh session +
  * `CdcStreamPipeline.bootstrap` of the serving seed); CDC catch-up
  * (`start` over a backlogged file source); CDC serve (`start` over a
  * paced file source, with lookups while it runs); reads of the state the
  * serve leg left (lookups and scans); in traced runs, the query board
  * (`SparkEntry.queries`).
  *
  * Usage: perfbench.Main <config.json> <result.json> */
object Main {

  final class Cfg(m: java.util.Map[String, AnyRef]) {
    def has(k: String): Boolean = m.containsKey(k)
    def get(k: String): AnyRef =
      Option(m.get(k)).getOrElse(sys.error(s"config key '$k' missing"))
    def str(k: String): String = get(k).toString
    def int(k: String): Int = get(k).asInstanceOf[Number].intValue
    def long(k: String): Long = get(k).asInstanceOf[Number].longValue
    def dbl(k: String): Double = get(k).asInstanceOf[Number].doubleValue
    def bool(k: String): Boolean = get(k).asInstanceOf[Boolean]
    def strs(k: String): Seq[String] =
      get(k).asInstanceOf[java.util.List[AnyRef]].asScala.map(_.toString).toSeq
    def longs(k: String): Seq[Long] =
      get(k).asInstanceOf[java.util.List[AnyRef]].asScala
        .map(_.asInstanceOf[Number].longValue).toSeq
    def obj(k: String): Cfg =
      new Cfg(get(k).asInstanceOf[java.util.Map[String, AnyRef]])
  }

  private def now: Long = System.currentTimeMillis()
  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def main(args: Array[String]): Unit = {
    val cfg = new Cfg(new ObjectMapper().readValue(new File(args(0)),
      classOf[java.util.Map[String, AnyRef]]))
    val result = mutable.LinkedHashMap[String, Any]()
    val run = new Run(cfg, result)
    try run.all()
    finally run.close()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(args(1)), result)
  }

  /** Polls a serving directory and stamps the moment each `v=<batch>`
    * version appears (its commit: BucketedState publishes a version with
    * one rename). With `deep`, it also reads the new version's manifest
    * and sizes, before retention can delete them. */
  final class Watcher(dir: String, deep: Boolean) extends Thread {
    val seen = new ConcurrentHashMap[Long, Long]()
    val info = new ConcurrentHashMap[Long, Map[String, Any]]()
    @volatile private var running = true
    setDaemon(true)

    def count: Int = seen.size

    override def run(): Unit =
      while (running) {
        val names = Option(new File(dir).list()).getOrElse(Array.empty[String])
        names.iterator.filter(_.startsWith("v="))
          .flatMap(_.stripPrefix("v=").toLongOption).filter(_ >= 0)
          .filterNot(seen.containsKey).toSeq.sorted.foreach { v =>
            seen.put(v, now)
            if (deep) info.put(v, describe(v))
          }
        Thread.sleep(2)
      }

    private def describe(v: Long): Map[String, Any] = {
      val vdir = new File(dir, s"v=$v")
      val manifest = scala.util.Try(Files.readAllLines(
        new File(vdir, "_MANIFEST").toPath).asScala.toSeq).getOrElse(Nil)
      val owners = manifest.drop(1).flatMap(_.split("=", 2) match {
        case Array(b, o) => Some(b.toInt -> o.toLong)
        case _ => None
      })
      val files = dataFiles(vdir)
      Map("buckets" -> manifest.headOption.map(_.stripPrefix("p=")).orNull,
        "rewritten" -> owners.count(_._2 == v),
        "files" -> files.size, "bytes" -> files.map(_.length).sum)
    }

    def stopNow(): Unit = { running = false; join() }
  }

  /** Data files under a directory tree (checksums and markers excluded). */
  def dataFiles(d: File): Seq[File] =
    Option(d.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    }

  object PlanFiles extends AdaptiveSparkPlanHelper {
    /** Files the executed plan's scans read. */
    def read(df: DataFrame): Long =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanLike => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
  }

  /** Collects every progress report of every streaming query. */
  final class Progress extends StreamingQueryListener {
    val byQuery = new ConcurrentHashMap[String, java.util.List[String]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      byQuery.computeIfAbsent(e.progress.id.toString,
        _ => java.util.Collections.synchronizedList(new java.util.ArrayList[String]()))
        .add(e.progress.json)
    def of(q: StreamingQuery): Seq[String] =
      Option(byQuery.get(q.id.toString)).map(_.asScala.toList).getOrElse(Nil)
  }

  final class Run(cfg: Cfg, out: mutable.Map[String, Any]) {
    private val tracer = new Tracer(cfg.bool("trace"))
    private val cpus = cfg.int("cpus")
    private val stats = if (tracer.enabled) Some(new JobStats) else None
    private val progress = new Progress
    private var spark: SparkSession = _

    private def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", cfg.str("spark_local"))
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      stats.foreach(s.sparkContext.addSparkListener)
      s.streams.addListener(progress)
      s
    }

    /** Runs `body` with its Spark jobs tagged for the listener. */
    private def tagged[T](tag: String)(body: => T): T = {
      val sc = spark.sparkContext
      sc.setLocalProperty(JobStats.TagKey, tag)
      try body finally sc.setLocalProperty(JobStats.TagKey, null)
    }

    private def sinks(dir: String, serving: String) =
      CdcStreamPipeline.Sinks(serving, s"$dir/archive", s"$dir/error",
        s"$dir/checkpoint")

    private def moveInto(f: File, dir: String): Unit =
      Files.move(f.toPath, Paths.get(dir, f.getName),
        StandardCopyOption.ATOMIC_MOVE)

    private def listFiles(dir: String): Seq[File] =
      Option(new File(dir).listFiles()).map(_.toSeq).getOrElse(Nil)
        .filter(_.getName.endsWith(".jsonl")).sortBy(_.getName)

    def all(): Unit = {
      val phases = mutable.LinkedHashMap[String, Any]()
      def phase(name: String)(body: => Unit): Unit = {
        val t0 = System.nanoTime()
        tracer.span(name)(body)
        phases(name) = ms(t0)
      }
      tracer.span("workload", attrs = Map("workload" -> cfg.str("workload"))) {
        phase("setup")(setup())
        phase("catchup")(catchup(cfg.obj("catchup")))
        phase("serve")(serve(cfg.obj("serve")))
        phase("read")(reads(cfg.obj("serve")))
        if (cfg.has("board")) phase("board")(board(cfg.obj("board")))
      }
      out("phases") = phases
      stats.foreach { s =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        out("jobs") = s.snapshot
      }
      out("spans") = tracer.spans
    }

    def close(): Unit = if (spark != null) spark.stop()

    /** `setup_reps` set-ups, each a fresh session plus a bootstrap of the
      * serving seed into its own directory; the last one is served. The
      * first also pays the JVM's class loading and JIT warm-up. */
    private def setup(): Unit = {
      val sv = cfg.obj("serve")
      val times = (0 until cfg.int("setup_reps")).map { r =>
        val t0 = System.nanoTime()
        tracer.span("setup_rep", attrs = Map("rep" -> r)) {
          close()
          spark = newSession()
          val boot = System.nanoTime()
          tracer.span("bootstrap") {
            tagged("bootstrap") {
              CdcStreamPipeline.bootstrap(spark.read.parquet(sv.str("seed")),
                sv.str("load_ts"), sinks(sv.str("work"), s"${sv.str("work")}/serving$r"))
            }
          }
          Map("setup_ms" -> ms(t0), "bootstrap_ms" -> ms(boot))
        }
      }
      out("setup") = times
    }

    /** Catch-up: the whole log is in the source directory before the
      * stream starts (as after an outage); one log file per trigger. */
    private def catchup(c: Cfg): Unit = {
      val dir = c.str("work")
      val src = s"$dir/src"
      new File(src).mkdirs()
      val s = sinks(dir, s"$dir/serving")
      listFiles(c.str("log")).foreach(moveInto(_, src))
      val watcher = new Watcher(s.serving, tracer.enabled)
      watcher.start()
      val (m, d) = CdcStreamPipeline.start(
        spark.readStream.option("maxFilesPerTrigger", 1).text(src), s,
        Trigger.ProcessingTime(0))
      tracer.span("stream") { m.processAllAvailable(); d.processAllAvailable() }
      m.stop(); d.stop()
      watcher.stopNow()
      out("catchup") = Map("commits" -> watcher.seen.asScala.toMap,
        "versions" -> watcher.info.asScala.toMap,
        "progress" -> progress.of(m), "dlq_progress" -> progress.of(d),
        "parse_ms" -> (if (tracer.enabled) parseTimed(src) else null))
      CdcStreamPipeline.servingTables(spark, s.serving)
        .write.mode("overwrite").parquet(s"$dir/serving_out")
    }

    /** Traced only: one batch envelope parse plus routing over the log. */
    private def parseTimed(src: String): Double = tracer.span("cdc_parse") {
      val t0 = System.nanoTime()
      tagged("cdc_parse") {
        Envelope.parse(spark, src)
          .select(Envelope.corrupt.as("c"), Envelope.selection().as("s"))
          .groupBy("c", "s").count().collect()
      }
      ms(t0)
    }

    private def lookup(servingDir: String, keys: Seq[Long], tag: String)
        : Map[String, Any] = tracer.span(tag)(failures(Map("keys" -> keys)) {
      val t0 = System.nanoTime()
      val startMs = now
      tagged(tag) {
        val df =
          if (keys.size == 1)
            CdcStreamPipeline.servingLookup(spark, servingDir, "testdb",
              "retail_trans", keys.head)
          else
            CdcStreamPipeline.servingLookupBatch(spark, servingDir,
              keys.map(k => ("testdb", "retail_trans", k)))
        val resolve = ms(t0)
        val t1 = System.nanoTime()
        val rows = df.collect()
        val collect = ms(t1)
        Map("keys" -> keys, "start" -> startMs, "end" -> now,
          "resolve_ms" -> resolve, "collect_ms" -> collect,
          "total_ms" -> ms(t0),
          "files" -> (if (tracer.enabled) PlanFiles.read(df) else null),
          "rows" -> rows.map(_.toSeq).toSeq)
      }
    })

    private def servedDir(c: Cfg): String =
      s"${c.str("work")}/serving${cfg.int("setup_reps") - 1}"

    /** Lookup keys, drawn from the pool by one seeded generator (the
      * client while the stream runs, then the reads). */
    private val pool = cfg.obj("serve").longs("lookup_pool").toIndexedSeq
    private val rnd = new scala.util.Random(cfg.obj("serve").long("rng_seed"))
    private def pick(n: Int): Seq[Long] = Seq.fill(n)(pool(rnd.nextInt(pool.size))).distinct

    /** Serve: a seeded state, a paced trickle of files offered at fixed
      * due times by one generator thread, and one closed-loop lookup
      * client while the stream runs. */
    private def serve(c: Cfg): Unit = {
      val dir = c.str("work")
      val src = s"$dir/src"
      new File(src).mkdirs()
      val s = sinks(dir, servedDir(c))
      val files = listFiles(c.str("trickle"))
      val interval = c.long("interval_ms")
      val watcher = new Watcher(s.serving, tracer.enabled)
      watcher.start()
      val (m, d) = CdcStreamPipeline.start(spark.readStream.text(src), s,
        Trigger.ProcessingTime(0))
      // the first file warms the stream up. Its batch advances the
      // watermark, so a batch without input follows it; the paced schedule
      // starts once that one has committed too (or after `idle_wait_ms`,
      // should no such batch run), so it starts against an idle stream.
      val drops = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
      val first = now
      moveInto(files.head, src)
      drops.add(Map("file" -> files.head.getName, "due" -> first, "at" -> first))
      while (watcher.count == 0 && m.isActive) Thread.sleep(2)
      val warmed = now
      while (watcher.count < 2 && m.isActive && now - warmed < c.long("idle_wait_ms"))
        Thread.sleep(2)
      val t0 = now + interval
      val phase = tracer.current
      val generator = new Thread(() => tracer.span("generator", phase) {
        files.tail.zipWithIndex.foreach { case (f, i) =>
          val due = t0 + i * interval
          val wait = due - now
          if (wait > 0) Thread.sleep(wait)
          moveInto(f, src)
          drops.add(Map("file" -> f.getName, "due" -> due, "at" -> now))
        }
      })
      val live = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
      val batchKeys = c.int("batch_keys")
      val client = new Thread(() => tracer.span("client", phase) {
        var i = 0
        while (generator.isAlive) {
          val keys = if (i % 2 == 0) pick(1) else pick(batchKeys)
          live.add(lookup(s.serving, keys, if (keys.size == 1) "live_lookup" else "live_batch")
            + ("kind" -> (if (i % 2 == 0) "single" else "batch")))
          i += 1
        }
      })
      generator.start(); client.start()
      generator.join(); client.join()
      tracer.span("drain") { m.processAllAvailable(); d.processAllAvailable() }
      m.stop(); d.stop()
      watcher.stopNow()
      out("serve") = Map(
        "drops" -> drops.asScala.toSeq, "commits" -> watcher.seen.asScala.toMap,
        "versions" -> watcher.info.asScala.toMap,
        "progress" -> progress.of(m), "dlq_progress" -> progress.of(d),
        "live" -> live.asScala.toSeq)
      CdcStreamPipeline.servingTables(spark, s.serving)
        .write.mode("overwrite").parquet(s"$dir/serving_out")
    }

    /** Reads of the state the serve leg left: a fixed number of single-key
      * and batched lookups, alternating, after one untimed lookup of each
      * kind, then `scans` timed scans after one untimed. No stream runs, so
      * reads do not share the task slots with triggers. */
    private def reads(c: Cfg): Unit = {
      val serving = servedDir(c)
      val batchKeys = c.int("batch_keys")
      val reads = mutable.ArrayBuffer[Map[String, Any]]()
      reads += (lookup(serving, pick(1), "lookup_warm") + ("kind" -> "warm"))
      reads += (lookup(serving, pick(batchKeys), "lookup_warm") + ("kind" -> "warm"))
      for (i <- 0 until 2 * c.int("lookups")) {
        val single = i % 2 == 0
        reads += (lookup(serving, if (single) pick(1) else pick(batchKeys),
          if (single) "lookup" else "lookup_batch") +
          ("kind" -> (if (single) "single" else "batch")))
      }
      // scan 0 is the untimed warm-up of the scan path
      val scans = (0 to c.int("scans")).map { r =>
        tracer.span("scan") {
          failures(Map("scan" -> r)) {
            val t1 = System.nanoTime()
            val row = tagged(if (r == 0) "scan_warm" else "scan") {
              CdcStreamPipeline.servingSnapshot(spark, serving)
                .agg(count(lit(1)), sum(col("amount")).cast("long"),
                  countDistinct(col("trans_id"))).collect().head
            }
            Map("ms" -> ms(t1), "count" -> row.getLong(0), "warm" -> (r == 0),
              "amount" -> Option(row.get(1)).orNull, "keys" -> row.getLong(2))
          }
        }
      }
      out("serve") = out("serve").asInstanceOf[Map[String, Any]] ++
        Map("reads" -> reads.toSeq, "scans" -> scans)
    }

    private def cleanse(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    /** One timed query: the build (where eager checkpoints run) and the
      * write of the result that is checked afterwards. */
    private def query(name: String, tables: String, res: String): Map[String, Any] =
      tracer.span("query", attrs = Map("query" -> name)) {
        val t0 = System.nanoTime()
        val result = failures(Map("query" -> name)) {
          val built = tagged(s"q:$name") {
            val df = tracer.span("build")(SparkEntry.queries(name)(spark, tables))
            val b = ms(t0)
            tracer.span("write")(df.write.mode("overwrite").parquet(s"$res/$name"))
            b
          }
          Map("query" -> name, "ms" -> ms(t0), "build_ms" -> built)
        }
        cleanse()
        result
      }

    /** An operation that throws is reported, with its error, as failed. */
    private def failures(id: Map[String, Any])(body: => Map[String, Any]): Map[String, Any] =
      try body
      catch {
        case scala.util.control.NonFatal(e) =>
          id + ("error" -> s"${id.values.mkString(" ")}: ${e.toString.take(300)}")
      }

    /** Board: each query of the iterative set, then of the one-pass set,
      * once. */
    private def board(c: Cfg): Unit = {
      val tables = c.str("tables")
      val res = c.str("results")
      def set(name: String) = tracer.span(s"${name}_set") {
        c.strs(name).map(q => query(q, tables, res))
      }
      val iterative = set("iterative")
      val onepass = set("onepass")
      val names = (c.strs("iterative") ++ c.strs("onepass")).toSet
      out("board") = Map("iterative" -> iterative, "onepass" -> onepass,
        "oracle" -> SparkEntry.oracleSql.filter(e => names(e._1)))
    }
  }
}
