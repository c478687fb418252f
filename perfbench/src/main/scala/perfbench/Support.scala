package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.jdk.CollectionConverters._

/** Spans kept in memory and written once at the end of a traced run:
  * name, start and duration relative to the tracer's creation, and the span
  * that caused it. With tracing off nothing is recorded. */
final class Tracer(val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val ids = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Id of the innermost open span on this thread (0 = none), for spans
    * that a helper thread opens on behalf of a phase. */
  def current: Long = stack.get.headOption.getOrElse(0L)

  def span[T](name: String, parent: Long = -1L, attrs: Map[String, Any] = Map.empty)
             (body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val up = if (parent >= 0) parent else current
      stack.set(id :: stack.get)
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        stack.set(stack.get.tail)
        done.add(Map("id" -> id, "parent" -> up, "name" -> name,
          "start_ms" -> (s - t0) / 1e6, "dur_ms" -> (e - s) / 1e6) ++ attrs)
      }
    }

  def spans: Seq[Map[String, Any]] = done.asScala.toSeq
}

/** Spark listener that sums, per tag, the jobs, stages, shuffle bytes,
  * input bytes and task time of the jobs the tag started. A tag is the
  * `perfbench.tag` local property of the submitting thread, or
  * `stream:<queryId>:<batchId>` for jobs a streaming trigger runs. */
final class JobStats extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var shuffleRead = 0L
    var shuffleWrite = 0L; var input = 0L; var taskMs = 0L
    def asMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
      "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
      "input_bytes" -> input, "task_ms" -> taskMs)
  }
  private val byTag = new ConcurrentHashMap[String, Acc]()
  private val stageTag = new ConcurrentHashMap[Int, String]()

  private def acc(tag: String): Acc = byTag.computeIfAbsent(tag, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val tag = prop(JobStats.TagKey).orElse(
      prop("sql.streaming.queryId").map(q =>
        s"stream:$q:${prop("streaming.sql.batchId").getOrElse("?")}"))
      .getOrElse("other")
    val a = acc(tag)
    a.synchronized(a.jobs += 1)
    e.stageIds.foreach(stageTag.put(_, tag))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val a = acc(Option(stageTag.get(info.stageId)).getOrElse("other"))
    val m = info.taskMetrics
    a.synchronized {
      a.stages += 1
      if (m != null) {
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.input += m.inputMetrics.bytesRead
        a.taskMs += m.executorRunTime
      }
    }
  }

  def snapshot: Map[String, Map[String, Any]] =
    byTag.asScala.map { case (k, a) => k -> a.synchronized(a.asMap) }.toMap
}

object JobStats {
  val TagKey = "perfbench.tag"
}
