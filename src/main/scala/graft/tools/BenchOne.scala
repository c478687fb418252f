package graft.tools

import graft.{GraftSession, SparkEntry}

/** Focused micro-bench for one registered query: warmup at sf0.001, then
  * N timed runs at the target SF (noop sink, same discipline as Bench).
  * Usage: runMain graft.tools.BenchOne <query> [sfDir] [iters] */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.start()
    val q = SparkEntry.queries(name)
    q(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    val times = (1 to iters).map { _ =>
      val t0 = System.nanoTime()
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[benchone] $name: min=${times.min}%.3f all=${times.map(t => f"$t%.3f").mkString(",")}")
    spark.stop()
  }
}
