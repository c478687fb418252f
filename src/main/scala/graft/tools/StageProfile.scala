package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap

/** Per-stage wall/cpu breakdown for one registered query — the local
  * stand-in for the Spark UI's stage table (the bench runs with the UI
  * off). Prints one line per stage: submit-relative wall window, task
  * count, summed task time, and the narrowest call-site name Spark
  * carries, so "where do this query's seconds go" is answerable without
  * an event-log replay. Usage:
  *   runMain graft.tools.StageProfile <query> [sfDir] [iters]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 2
    // dev-only A/B knob: SPARK_GRAFT_EXTRA_CONFS="k=v;k2=v2" overlays
    // session confs so a partitioning/join hypothesis can be tested
    // without a code edit
    val extra = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONFS", "")
      .split(";").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    val spark = GraftSession.start(
      extra.foldLeft(GraftSession.builder()) { case (b, (k, v)) => b.config(k, v) })

    final case class St(name: String, submitted: Long, var completed: Long,
                        var tasks: Int, var taskMs: Long, var shuffleReadB: Long,
                        var shuffleWriteB: Long, var inputB: Long)
    val stages = TrieMap.empty[Int, St]
    var t0 = 0L
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val si = e.stageInfo
        stages(si.stageId) =
          St(si.name, System.nanoTime(), -1L, 0, 0L, 0L, 0L, 0L)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        stages.get(si.stageId).foreach { st =>
          st.completed = System.nanoTime()
          st.tasks = si.numTasks
          st.taskMs = si.taskMetrics.executorRunTime
          st.shuffleReadB = si.taskMetrics.shuffleReadMetrics.totalBytesRead
          st.shuffleWriteB = si.taskMetrics.shuffleWriteMetrics.bytesWritten
          st.inputB = si.taskMetrics.inputMetrics.bytesRead
        }
      }
    }

    val q = SparkEntry.queries(name)
    // warmup: JIT + codegen at sf0.001, one untimed target-SF pass
    q(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    q(spark, sfDir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

    spark.sparkContext.addSparkListener(listener)
    val times = (1 to iters).map { i =>
      stages.clear()
      t0 = System.nanoTime()
      val s0 = System.nanoTime()
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - s0) / 1e9
      Thread.sleep(300) // let the listener bus drain before reading stages
      if (i == iters) { // print the last iteration's stage table
        println(f"== $name iter $i: ${dt}%.3f s ==")
        stages.toSeq.sortBy(_._2.submitted).foreach { case (id, st) =>
          val start = (st.submitted - t0) / 1e9
          val end = if (st.completed > 0) (st.completed - t0) / 1e9 else -1.0
          println(f"stage $id%4d [$start%7.3f -> $end%7.3f] wall=${end - start}%6.3f " +
            f"tasks=${st.tasks}%3d taskTime=${st.taskMs / 1e3}%7.3f s " +
            f"in=${st.inputB / 1e6}%8.2f MB sr=${st.shuffleReadB / 1e6}%8.2f MB " +
            f"sw=${st.shuffleWriteB / 1e6}%8.2f MB  ${st.name.take(90)}")
        }
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      dt
    }
    println(f"[stageprofile] $name: min=${times.min}%.3f " +
      s"all=${times.map(t => f"$t%.3f").mkString(",")}")
    spark.stop()
  }
}
