package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Run every query, dump results + oracle SQL under `outDir`, and
    * return the failures (name → first lines of the error). A query
    * that throws must surface as a LOUD artifact (`_failed.json`),
    * never a silently shorter result set: round 7 lost q80 from the
    * board this way (stderr-only catch) and the regression went
    * unreported. Extracted from main so VerifySpec can prove the
    * failure artifact with a deliberately-broken registry. */
  def runAll(spark: SparkSession, sfDir: String, outDir: String,
             queries: Seq[(String, (SparkSession, String) => DataFrame)],
             oracleSql: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = msg.linesIterator.take(3).mkString(" | ")
      }
    }
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed.nonEmpty) {
      val fj = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/_failed.json"), fj)
      System.err.println(
        s"[verify] ${failed.size}/${queries.size} queries FAILED: " +
          failed.keys.mkString(", "))
    }
    failed.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Dev-only subset filter (comma-separated names) so one new query can
    // be oracle-checked without replaying the whole board; unset = all.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def keep(n: String) = only.forall(_.contains(n))
    val spark = GraftSession.start()
    val failed = runAll(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter(t => keep(t._1)),
      SparkEntry.oracleSql.filter(t => keep(t._1)))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
