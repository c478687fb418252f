package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only scale-smoke data generator: replicate a driver-provided SF
  * directory N× with disjoint key ranges, preserving FK consistency
  * (orders.o_custkey shifts with customer.c_custkey, lineitem's three FKs
  * with their parents), so the bench can be smoked one decade above the
  * largest provided SF. Dimension tables (region, nation) are copied
  * unshifted — they are schema-bounded, their cardinality does not scale.
  *
  * Usage: runMain graft.tools.GenScaledData <srcSfDir> <destDir> [copies]
  * Key offsets are multiples of 10^12 — far above any real key at any
  * provided SF, so replica key ranges can never collide.
  */
object GenScaledData {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dest = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.start()
    val OFF = 1000000000000L

    def replicate(df: DataFrame, shifted: Seq[String]): DataFrame =
      (0 until copies).map { i =>
        shifted.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i * OFF)))
      }.reduce(_ unionByName _)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"[genscale] $name done")
    }

    write("region", Tables.region(spark, src))
    write("nation", Tables.nation(spark, src))
    write("customer", replicate(Tables.customer(spark, src), Seq("c_custkey")))
    write("supplier", replicate(Tables.supplier(spark, src), Seq("s_suppkey")))
    write("part", replicate(Tables.part(spark, src), Seq("p_partkey")))
    write("orders", replicate(Tables.orders(spark, src),
      Seq("o_orderkey", "o_custkey")))
    write("lineitem", replicate(Tables.lineitem(spark, src),
      Seq("l_orderkey", "l_partkey", "l_suppkey")))
    write("events", replicate(Tables.events(spark, src),
      Seq("event_id", "user_id")))
    write("documents", replicate(Tables.documents(spark, src), Seq("doc_id")))
    write("embeddings", replicate(Tables.embeddings(spark, src), Seq("vec_id")))
    spark.stop()
  }
}
