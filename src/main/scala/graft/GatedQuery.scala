package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-gated query: a Spark DataFrame program plus (when the operator
  * is SQL-expressible) the exact DuckDB SQL the driver replays over the same
  * parquet/jsonl inputs (SURVEY.md §2.3). `oracle == None` → the driver
  * records a weaker rows-only check; such ops get Spark-side golden tests
  * instead. */
final case class GatedQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object GatedQuery {
  def gated(name: String, sql: String)(
      build: (SparkSession, String) => DataFrame): GatedQuery =
    GatedQuery(name, build, Some(sql.stripMargin.trim.replaceAll("\\s+", " ")))

  /** Scratch directory for queries that exercise a PERSISTED index's
    * write→probe round trip (q40c, q48c): deterministic per (JVM, sf dir,
    * index name) — re-runs within a process overwrite their own files,
    * while concurrent processes (a Verify racing a Bench) get disjoint
    * trees instead of overwriting each other's index mid-probe — and
    * under java.io.tmpdir so the repo and testdata trees are never
    * written. The sf dir segment is its base name plus a hash of its
    * CANONICAL path: two table dirs that share a base name (`a/tables`,
    * `b/tables`) must not share a stateful query's persisted state,
    * while two spellings of one dir must. */
  def indexScratch(sfDir: String, name: String): String = {
    registerScratchCleanup()
    val dir = new java.io.File(sfDir).getCanonicalFile
    s"${System.getProperty("java.io.tmpdir")}/graft_index/" +
      s"p${ProcessHandle.current().pid()}/" +
      f"${dir.getName}-${dir.getPath.hashCode}%08x/$name"
  }

  // per-pid isolation would otherwise leak a full index tree per JVM run
  // into tmp; delete this process's tree on exit (best-effort — an OS tmp
  // reaper covers kill -9)
  private val scratchHooked = new java.util.concurrent.atomic.AtomicBoolean
  private def registerScratchCleanup(): Unit =
    if (scratchHooked.compareAndSet(false, true)) {
      val root = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft_index/" +
          s"p${ProcessHandle.current().pid()}")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(root)
      }))
    }
}
