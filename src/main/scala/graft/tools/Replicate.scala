package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** In-memory corpus replication for MiningScaleSpec's production-nlist
  * corpus: `copies` disjoint id stripes at 10^13 offsets — one decade
  * ABOVE GenScaledData's 10^12 FK-preserving stripe and clear of
  * Media.PlantedIdOffset's 10^12 plant reserve, so replica ids can never
  * collide with generated keys or planted rows. GenScaledData remains
  * the on-disk multi-table generator (FK-consistent shifts across
  * parents); this is the single-table in-memory form. */
private[graft] object Replicate {

  /** 10^13 — see object scaladoc for why not GenScaledData's 10^12. */
  val Stripe = 10000000000000L

  def stripe(df: DataFrame, idCols: Seq[String], copies: Int): DataFrame = {
    require(copies >= 1,
      s"copies must be >= 1, got $copies — nothing to replicate")
    (0 until copies).map { i =>
      idCols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + lit(i.toLong * Stripe)))
    }.reduce(_ unionByName _)
  }
}
