package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Token-window span relation for exact SUBSTRING dedup (q104's operator):
  * one row per `window`-token sliding window of each document,
  * `(doc_id, start, h)` with `h` the [[graft.functions.expressions.WindowFps]]
  * fingerprint of the window's tokens. The hash keys
  * shuffle uniformly at 8 bytes per key regardless of window text (r18:
  * was a 32-char md5 hex string — guide §2.3, narrower shuffle keys; a
  * 64-bit fingerprint standing in for window equality is the same trade
  * SimJoin documents, collision odds ~|windows|²·2⁻⁶⁴), and every
  * downstream consumer — repeated-window detection, position masking,
  * per-doc token counts — derives from this one relation.
  *
  * Like the MinHash signature relation ([[NearDup]]), the span relation IS
  * the corpus's substring-dedup index: at corpus scale it persists once
  * ([[writeIndex]]) and every later dedup pass reads the files instead of
  * re-running tokenize + per-window md5 over 100 TB of text.
  */
object Spans {

  /** The span relation over (idCol, tokensCol): (doc_id, start, h).
    * Documents shorter than `window` tokens emit no rows (they cannot
    * contain a repeated window and carry no position to mask).
    * r19: `h` comes from the native single-pass
    * [[graft.functions.expressions.WindowFps]] (token hashes chained
    * per window) — the old interpreted transform built a
    * `window`-token STRING per position before hashing it (O(n·w)
    * bytes per document; q104's dominant serial stage). Same 64-bit
    * equality-fingerprint contract, different internal domain. */
  def spanRelation(docs: DataFrame, idCol: String, tokensCol: String,
                   window: Int = 20): DataFrame =
    docs.filter(size(col(tokensCol)) >= window)
      .select(col(idCol).as("doc_id"),
        posexplode(org.apache.spark.sql.GraftPlanBridge.column(
          graft.functions.expressions.WindowFps(
            org.apache.spark.sql.GraftPlanBridge.expression(col(tokensCol)),
            window))))
      .select(col("doc_id"), col("pos").as("start"), col("col").as("h"))

  /** Persist the span relation as the corpus's substring-dedup index.
    * OVERWRITES the path — the one-time build over the current corpus;
    * ingest batches add their documents with [[appendToIndex]]. */
  def writeIndex(docs: DataFrame, idCol: String, tokensCol: String,
                 path: String, window: Int = 20): Unit =
    spanRelation(docs, idCol, tokensCol, window)
      .write.mode("overwrite").parquet(path)

  /** Ingest path: append a NEW batch's span rows to an existing index —
    * old rows never rewrite, and cross-batch repeats surface because
    * [[maskedCounts]] groups over the whole relation (IndexSpec pins
    * append == rebuild-over-union).
    *
    * Format guard (r18 ADVICE): r18 changed `h` from md5 hex STRING to
    * xxhash64 LONG — appending long rows into a pre-r18 string-h index
    * would either fail parquet schema merge at read or silently never
    * match cross-batch repeated windows. An existing index must already
    * carry bigint `h`; rebuild old indexes via [[writeIndex]]. */
  def appendToIndex(docs: DataFrame, idCol: String, tokensCol: String,
                    path: String, window: Int = 20): Unit = {
    val spark = docs.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val hType = spark.read.parquet(path).schema("h").dataType
      require(hType == org.apache.spark.sql.types.LongType,
        s"span index at $path stores h as ${hType.catalogString} (a " +
          "pre-r18 md5-string index) — appending xxhash64 longs would " +
          "never match its windows; rebuild via writeIndex")
    }
    spanRelation(docs, idCol, tokensCol, window)
      .write.mode("append").parquet(path)
  }

  /** The span relation back from a persisted index. */
  def fromIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): DataFrame = {
    // deletion fence: a torn forget must fail loudly here, not count
    // masked positions against a half-rewritten span relation
    graft.operators.IndexForget.assertCleanFlat(spark, path)
    spark.read.parquet(path)
  }

  /** Right-to-be-forgotten: rewrite the span relation without the
    * victims' rows (flat layout → O(index) rewrite of per-document
    * derived data; rebuildable via [[writeIndex]]). Span rows are
    * independent per document — NOTE the dedup SEMANTICS shift exactly
    * as a rebuild-without would: windows that repeated only between a
    * victim and one survivor stop counting as cross-document repeats. */
  def forget(spark: org.apache.spark.sql.SparkSession, path: String,
             ids: Seq[Long]): Boolean =
    graft.operators.IndexForget.forgetFlat(spark, path,
      col("doc_id").isin(ids: _*))

  /** Per-document substring-dedup statistic from a span relation:
    * (doc_id, n_toks, n_masked) where n_masked counts token positions
    * covered by any window repeated in ≥ 2 distinct documents. The
    * repeated-set semi-join and the ×window position explode touch only
    * hit rows; n_toks = last window start + window (the spans alone carry
    * it — no second pass over the corpus text).
    *
    * `window` is deliberately NOT defaulted: it must equal the window the
    * span relation was BUILT with (spanRelation/writeIndex), and the
    * relation does not carry it — a silently-defaulted mismatch would
    * mis-count every document. */
  def maskedCounts(spans: DataFrame, window: Int): DataFrame = {
    val rep = spans.groupBy("h")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= 2).select("h")
    val masked = spans.join(rep, "h")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (window - 1))).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_masked"))
    spans.groupBy("doc_id")
      .agg((max("start") + window).cast("long").as("n_toks"))
      .join(masked, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"))
  }
}
